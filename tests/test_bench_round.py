"""``bench.py`` validates ``SPARK_GRAFT_BENCH_ROUND`` before it runs
anything: a positive integer overrides the archive round, unset falls
back to the scan, anything else exits with a message naming the
variable. The scan files a run under the round after the newest
driver record of the same core count, and a full run resolves its
archive before it starts Spark, so an unreadable record fails at
once. No Spark session is started."""

from __future__ import annotations

import json

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


def _round16_files(root):
    """The driver records present when round 16's 8-core run ended:
    rounds 1-15 at 32 cores, round 15 at 8 cores, and round 16's
    32-core record written after its run."""
    for n in range(1, 17):
        (root / f"BENCH_r{n:02d}.json").write_text(json.dumps({"n": n, "cpus": 32}))
    (root / "BENCH_r15_c8.json").write_text(json.dumps({"n": 15, "cpus": 8}))
    for name in ("BENCH_DETAIL_r15.json", "BENCH_DETAIL_r15_c8.json",
                 "BENCH_DETAIL_r16_c32.json"):
        (root / name).write_text("{}")


def test_round_follows_the_same_core_count(tmp_path):
    _round16_files(tmp_path)
    assert bench.archive_round(str(tmp_path), 8) == 16
    assert bench.archive_round(str(tmp_path), 32) == 17


def test_round_falls_back_to_any_core_count(tmp_path):
    _round16_files(tmp_path)
    assert bench.archive_round(str(tmp_path), 4) == 17
    assert bench.archive_round(str(tmp_path / "missing"), 4) == 1


def test_bad_record_fails_before_any_query_runs(tmp_path, monkeypatch):
    _round16_files(tmp_path)
    (tmp_path / "BENCH_r17.json").write_text('{"cpus": 3')  # truncated
    monkeypatch.delenv("SPARK_GRAFT_BENCH_ROUND", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_BENCH_NO_ARCHIVE", raising=False)
    monkeypatch.setattr(bench, "ROOT", str(tmp_path))

    def no_spark(**_):
        raise AssertionError("the bench started Spark before reading records")

    monkeypatch.setattr(bench, "get_spark", no_spark)
    with pytest.raises(json.JSONDecodeError):
        bench.main([])


def test_archive_path_honours_no_archive_and_never_overwrites(
    tmp_path, monkeypatch
):
    _round16_files(tmp_path)
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "32")
    monkeypatch.setenv("SPARK_GRAFT_BENCH_NO_ARCHIVE", "1")
    assert bench.archive_path(str(tmp_path), None).endswith(
        "BENCH_DETAIL.local.json"
    )
    monkeypatch.delenv("SPARK_GRAFT_BENCH_NO_ARCHIVE")
    assert bench.archive_path(str(tmp_path), None).endswith(
        "BENCH_DETAIL_r17_c32.json"
    )
    assert bench.archive_path(str(tmp_path), 16).endswith(
        "BENCH_DETAIL_r16_c32.local.json"
    )
