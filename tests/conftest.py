from __future__ import annotations

import functools
import os
from contextlib import contextmanager

import duckdb
import pytest

from streaming_forex_data_pipeline_spark.session import get_spark
from streaming_forex_data_pipeline_spark.sources.tables import TABLES

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def pytest_terminal_summary(terminalreporter, config):
    """Say what the default lane left out: pytest.ini deselects the
    ``slow`` tests, so a green default run has not run them."""
    if config.getoption("markexpr") != "not slow":
        return
    slow = [
        item
        for item in terminalreporter.stats.get("deselected", [])
        if item.get_closest_marker("slow") is not None
    ]
    if slow:
        terminalreporter.write_line(
            f"{len(slow)} slow tests deselected (not run); full lane: "
            'python -m pytest tests/ -q -m ""'
        )


@pytest.fixture(scope="session")
def spark():
    s = get_spark("sfdp-tests")
    yield s
    s.stop()


@contextmanager
def _gate_side(spark, side: str):
    """Run the block on one side of the graph loops' driver-finish gate
    (llm/dedup.py:_collect_if_small): ``driver`` keeps the session's
    broadcast threshold; ``spark`` sets
    spark.sql.autoBroadcastJoinThreshold=-1, so every graph counts as
    too big and the Spark loops run.  The session value is restored,
    never unset (the shared session pins a non-default 64 MB)."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key, None)
    if side == "spark":
        spark.conf.set(key, "-1")
    try:
        yield side
    except BaseException as exc:
        exc.add_note(f"graph-loop gate side: {side}")
        raise
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


@pytest.fixture
def gate_sides(spark):
    """Both sides of the graph loops' gate, driver then spark, as
    context managers that yield the side's name:
    ``for side in gate_sides: with side(): ...``."""
    return [
        functools.partial(_gate_side, spark, side) for side in ("driver", "spark")
    ]


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def duck(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    yield con
    con.close()
