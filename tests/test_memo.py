"""`session.session_memo`: one build per key and application, source
freshness by corpus fingerprint, and release of cached frames and
session dirs.  A new application is simulated by patching
``SparkContext.applicationId``, so the shared test session keeps
running.  Each test runs against a private memo state, so a simulated
application releases only the entries the test made, never the shared
session's (its staging dirs, its package-ship record)."""

from __future__ import annotations

import os
import shutil
import sys
import threading
import time
import weakref

import pyarrow.parquet as pq
import pytest
from pyspark import SparkContext

from streaming_forex_data_pipeline_spark import session as SESSION
from streaming_forex_data_pipeline_spark.plans.registry import all_queries
from streaming_forex_data_pipeline_spark.session import memo_entries, session_memo
from streaming_forex_data_pipeline_spark.sources import scratch as SCR
from streaming_forex_data_pipeline_spark.sources.tables import candles_from_events
from streaming_forex_data_pipeline_spark.streaming.channels import read_table_stream


@pytest.fixture(autouse=True)
def private_memo(spark, monkeypatch):
    """A memo state of the test's own, under the shared session's
    application; released at teardown while it is still in place."""
    monkeypatch.setattr(SESSION, "_session_entries", {})
    monkeypatch.setattr(SESSION, "_frame_entries", weakref.WeakKeyDictionary())
    monkeypatch.setattr(
        SESSION, "_memo_app", spark.sparkContext.applicationId
    )
    yield
    SESSION._release_all()


def _as_application(monkeypatch, app_id: str) -> None:
    monkeypatch.setattr(
        SparkContext, "applicationId", property(lambda self: app_id)
    )


def test_one_build_per_key_per_application(spark, monkeypatch):
    builds = []

    def build():
        time.sleep(0.01)
        builds.append(1)
        return len(builds)

    key = ("test_memo", "once")
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [
            threading.Thread(target=session_memo, args=(spark, key, build))
            for _ in range(16)
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
        assert not any(t.is_alive() for t in threads)
    finally:
        sys.setswitchinterval(interval)
    assert len(builds) == 1
    assert session_memo(spark, key, build) == 1
    assert key in memo_entries(spark)

    # a logged cold build appends one row; a warm hit appends none
    mark = len(SCR.SILVER_BUILD_LOG)
    session_memo(spark, ("test_memo", "logged"), build, log="test:memo")
    session_memo(spark, ("test_memo", "logged"), build, log="test:memo")
    assert [r["silver"] for r in SCR.SILVER_BUILD_LOG[mark:]] == ["test:memo"]

    _as_application(monkeypatch, "test-memo-next-app")
    assert key not in memo_entries(spark)
    assert session_memo(spark, key, build) == 3
    assert session_memo(spark, key, build) == 3


def test_rewritten_events_rebuild_candles(spark, sf_dir, tmp_path):
    d = str(tmp_path)
    shutil.copy(f"{sf_dir}/events.parquet", f"{d}/events.parquet")
    old = candles_from_events(spark, d)
    assert old.is_cached
    assert candles_from_events(spark, d) is old
    n_old = old.agg({"n_events": "sum"}).collect()[0][0]

    events = pq.read_table(f"{d}/events.parquet")
    pq.write_table(events.slice(0, events.num_rows // 2), f"{d}/events.parquet")

    new = candles_from_events(spark, d)
    assert new is not old
    assert not old.is_cached
    assert new.agg({"n_events": "sum"}).collect()[0][0] == events.num_rows // 2
    assert n_old == events.num_rows


def test_new_application_releases_session_dirs(
    spark, sf_dir, tmp_path, monkeypatch
):
    monkeypatch.setattr("tempfile.gettempdir", lambda: str(tmp_path))
    _as_application(monkeypatch, "test-memo-app-a")
    read_table_stream(spark, sf_dir, "events")
    all_queries()["ingest_cycle"].spark(spark, sf_dir)
    root = SCR.user_scratch_root()
    made = sorted(os.listdir(root))
    assert [n for n in made if n.startswith("events_stream_")]
    assert [n for n in made if n.startswith("ingest_cycle_")]

    _as_application(monkeypatch, "test-memo-app-b")
    session_memo(spark, ("test_memo", "app-b"), lambda: None)
    assert [n for n in os.listdir(root) if n in made] == []
