"""The shared measurement loop in bench.py, and the guard that keeps the
timing tools on it."""

from __future__ import annotations

import re
import statistics
from pathlib import Path

import pytest

import bench
from simtradedata_spark.functions.caching import (
    _PROTECTED,
    _jmap,
    scratch_persist,
)
from simtradedata_spark.queries import QUERIES

TOOLS = Path(__file__).resolve().parent.parent / "tools"


def _unprotected(spark) -> set[int]:
    return {int(k) for k in _jmap(spark).keySet().toArray()} - _PROTECTED


def _scratch(spark):
    df = scratch_persist(spark.range(1000).selectExpr("id * 2 AS y"))
    df.count()
    return df


def test_run_once_releases_scratch_when_the_entry_raises(spark):
    def thunk():
        # scratch persisted and materialized, then a failure mid-build
        _scratch(spark)
        spark.range(100).rdd.persist().count()  # raw RDD, swept by id
        raise RuntimeError("boom after persisting")

    bench.release(spark)
    with pytest.raises(RuntimeError, match="boom"):
        bench.run_once(spark, thunk)
    assert _unprotected(spark) == set()


def test_run_once_times_a_successful_entry(spark):
    bench.release(spark)
    assert bench.run_once(spark, lambda: _scratch(spark)) >= 0.0
    assert _unprotected(spark) == set()


def test_measure_reports_failures_as_negative_headline(spark):
    def fails():
        raise RuntimeError("always")

    m = bench.measure(spark, "fails", fails, repeats=2)
    assert m["value"] == -1.0
    assert m["errors"] == 2
    assert m["runs"] == [] and m["min"] == m["max"] == -1.0

    calls = []

    def flaky():
        calls.append(1)
        if len(calls) == 1:
            raise RuntimeError("first run only")
        return spark.range(10)

    m = bench.measure(spark, "flaky", flaky, repeats=3)
    assert m["errors"] == 1
    assert len(m["runs"]) == 2
    assert m["value"] == -round(statistics.median(m["runs"]), 3)

    m = bench.measure(spark, "ok", lambda: spark.range(10), repeats=1)
    assert m["errors"] == 0 and m["value"] >= 0 and m["runs"] == [m["value"]]


def test_resolve_rejects_unknown_names_before_building_twins(
    spark, monkeypatch
):
    def no_twins(*_a, **_kw):
        raise AssertionError("prod_variants must not be built")

    monkeypatch.setattr(bench, "prod_variants", no_twins)
    missing = "/nonexistent-sf-dir"
    with pytest.raises(ValueError, match="no_such_entry"):
        bench.resolve(spark, missing, ["active_nations", "no_such_entry"])

    # registered names resolve to unbuilt thunks, in the order given
    names = sorted(QUERIES)[:2][::-1]
    entries = bench.resolve(spark, missing, names)
    assert list(entries) == names
    assert all(callable(t) for t in entries.values())


def test_resolve_rejects_unknown_twin_backend(spark, monkeypatch):
    twin = "dedup_clusters@xxh64"
    monkeypatch.setattr(bench, "prod_variants", lambda *_a: {twin: None})
    missing = "/nonexistent-sf-dir"
    with pytest.raises(ValueError, match="dedup_clusters@nope"):
        bench.resolve(spark, missing, [twin, "dedup_clusters@nope"])
    assert list(bench.resolve(spark, missing, [twin])) == [twin]


def test_tools_do_not_hand_roll_the_measurement_loop():
    """Only bench.py runs an entry through the noop sink, releases scratch
    or nudges the GC; tools call its shared steps instead."""
    hand_rolled = re.compile(
        r"""format\(\s*["']noop["']\s*\)|System\.gc\(|release_scratch\("""
    )
    offenders = [
        f"tools/{path.name}:{i}"
        for path in sorted(TOOLS.glob("*.py"))
        for i, line in enumerate(path.read_text().splitlines(), 1)
        if hand_rolled.search(line)
    ]
    assert offenders == []
