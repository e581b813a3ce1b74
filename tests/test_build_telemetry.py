"""The build-once silver protocol (`sources/scratch.build_once`):
cold builds log themselves with their OWN cost (nested builds
subtracted), warm reads log nothing — the contract bench.py's
exec-only attribution rests on (r13 verdict Next #1) — a failed build
leaves no temp dir, a lost rename race adopts the winner, and every
read refreshes the slot's mtime for `retire_stale_silvers`.
Only the media-silver case needs Spark: build_once takes any build
callable."""

from __future__ import annotations

import os
import time

import pytest

from streaming_forex_data_pipeline_spark.sources import scratch as SCR
from streaming_forex_data_pipeline_spark.sources.scratch import build_once


def _write_success(tmp: str) -> None:
    os.makedirs(tmp, exist_ok=True)
    with open(os.path.join(tmp, "_SUCCESS"), "w"):
        pass


def test_cold_build_logs_once_warm_read_logs_nothing(tmp_path):
    out = str(tmp_path / "silver_a")
    mark = len(SCR.SILVER_BUILD_LOG)
    build_once(out, _write_success)
    assert len(SCR.SILVER_BUILD_LOG) == mark + 1
    row = SCR.SILVER_BUILD_LOG[-1]
    assert row["silver"] == "silver_a"
    assert row["sec"] >= 0.0
    # warm: _SUCCESS exists, no build, no new row
    build_once(out, _write_success)
    assert len(SCR.SILVER_BUILD_LOG) == mark + 1


def test_nested_build_costs_are_additive(tmp_path):
    """An outer silver whose build() triggers an inner build_once
    must log its OWN cost only: outer_sec excludes the inner row's
    seconds, so summing any slice of the log never double-counts."""
    inner_dir = str(tmp_path / "inner")
    outer_dir = str(tmp_path / "outer")

    def build_inner(tmp: str) -> None:
        time.sleep(0.05)
        _write_success(tmp)

    def build_outer(tmp: str) -> None:
        build_once(inner_dir, build_inner)  # nested cold build
        time.sleep(0.02)
        _write_success(tmp)

    mark = len(SCR.SILVER_BUILD_LOG)
    build_once(outer_dir, build_outer)
    rows = SCR.SILVER_BUILD_LOG[mark:]
    assert [r["silver"] for r in rows] == ["inner", "outer"]
    inner_sec, outer_sec = rows[0]["sec"], rows[1]["sec"]
    assert inner_sec >= 0.05
    # outer's own work is the 0.02 sleep + rename overhead — far less
    # than inner's 0.05: the subtraction happened
    assert outer_sec < inner_sec


def test_failed_build_leaves_no_temp_dir(tmp_path):
    out = str(tmp_path / "silver_b")

    def build(tmp: str) -> None:
        _write_success(tmp)
        raise RuntimeError("build failed")

    with pytest.raises(RuntimeError, match="build failed"):
        build_once(out, build)
    assert os.listdir(tmp_path) == []


def test_lost_rename_race_adopts_winner(tmp_path):
    """A concurrent builder publishes first: this build's rename fails,
    its temp dir is removed, and the winner's artifact is returned."""
    out = str(tmp_path / "silver_c")

    def build(tmp: str) -> None:
        _write_success(tmp)
        os.makedirs(out)  # the winner lands while this build runs
        with open(os.path.join(out, "winner"), "w"):
            pass
        _write_success(out)

    assert build_once(out, build) == out
    assert sorted(os.listdir(out)) == ["_SUCCESS", "winner"]
    assert os.listdir(tmp_path) == ["silver_c"]


def test_failed_rename_without_winner_raises(tmp_path):
    out = str(tmp_path / "silver_d")

    def build(tmp: str) -> None:
        _write_success(tmp)
        os.makedirs(os.path.join(out, "not_a_silver"))  # rename target busy

    with pytest.raises(OSError):
        build_once(out, build)
    assert sorted(os.listdir(tmp_path)) == ["silver_d"]


def test_warm_media_read_keeps_slot_from_retirement(
    spark, sf_dir, tmp_path, monkeypatch
):
    """A warm `media_payloads` read refreshes its slot's mtime, so
    `retire_stale_silvers` (which `sinks.maintenance` runs over the
    ``media_`` prefix) keeps a silver that is still read."""
    from streaming_forex_data_pipeline_spark.llm.silvers import (
        media_payloads,
    )

    monkeypatch.setattr("tempfile.gettempdir", lambda: str(tmp_path))
    media_payloads(spark, sf_dir, "image")  # cold build
    (slot,) = [
        os.path.join(SCR.user_scratch_root(), d)
        for d in os.listdir(SCR.user_scratch_root())
        if d.startswith("media_image_")
    ]
    old = time.time() - 30 * 86400
    os.utime(slot, (old, old))
    assert media_payloads(spark, sf_dir, "image").count() > 0  # warm read
    assert SCR.retire_stale_silvers("media_", max_age_seconds=86400) == []
    assert os.path.isdir(slot)
