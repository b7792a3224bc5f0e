"""``bench.py`` validates ``SPARK_GRAFT_BENCH_ROUND`` before it runs
anything: a positive integer overrides the archive round, unset falls
back to the scan, anything else exits with a message naming the
variable. No Spark session is started."""

from __future__ import annotations

import pytest

import bench


@pytest.mark.parametrize("value", ["0", "-3", "abc", "2.5", "r17"])
def test_rejects_non_positive_or_non_integer(monkeypatch, value):
    monkeypatch.setenv("SPARK_GRAFT_BENCH_ROUND", value)
    with pytest.raises(SystemExit, match="SPARK_GRAFT_BENCH_ROUND must be"):
        bench.round_override()


def test_accepts_positive_integer(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_BENCH_ROUND", "17")
    assert bench.round_override() == 17


def test_unset_means_scan(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_BENCH_ROUND", raising=False)
    assert bench.round_override() is None
