"""bench.py's deadline check, noise rule and always-print contract."""

from __future__ import annotations

import json
import os

import pytest

import bench
from flink_1_6_0_spark.queries import lake
from flink_1_6_0_spark.registry import load_all
from flink_1_6_0_spark.sources import scale_synth, tpch_dbgen

BENCH_NAMES = {s.name for s in load_all().values() if s.bench}
FAILING = "tpch_q6"
# the keys a calm, uncut run printed before the deadline existed (BENCH_r16.json)
UNCUT_KEYS = {
    "metric", "value", "unit", "queries", "sf", "runs_per_query",
    "vs_baseline_matched", "matched_queries", "env_drift",
    "vs_baseline_normalized", "throughput_rows_s", "stream_batches",
    "guard_active", "contaminated", "sentinel_sec", "sf1", "sf1_dbgen", "detail",
}


def _run_main(monkeypatch, capsys, tmp_path, spark, deadline: float) -> dict:
    monkeypatch.setattr(bench, "DEADLINE_S", deadline)
    monkeypatch.setattr(bench, "DETAIL", str(tmp_path / "BENCH_DETAIL.json"))
    monkeypatch.setattr(bench, "get_spark", lambda **kw: spark)
    for var in ("SPARK_GRAFT_SF_DIR", "SPARK_GRAFT_BENCH_RUNS", "SPARK_GRAFT_SF1"):
        monkeypatch.delenv(var, raising=False)
    bench.main()
    lines = capsys.readouterr().out.splitlines()
    assert len(lines) == 1
    return json.loads(lines[0])


@pytest.fixture
def instant_units(monkeypatch):
    """Every unit main() can run, replaced by an instant fake that logs it.
    FAILING's timed runs fail, and its stamp reads far past DRIFT."""
    ran: list[tuple[str, str]] = []
    calm = json.load(open(bench.BENCHBASE))["sentinel_sec"]

    def time_query(spark, spec, sf_dir, runs):
        ran.append((sf_dir, spec.name))
        return (-1.0, 99.0) if spec.name == FAILING else (1.0, calm)

    def throughput(spark, sf_dir):
        ran.append(("throughput", sf_dir))
        return {"rows_per_sec": 1.0, "batches": 2, "rows": 3}

    monkeypatch.setattr(bench, "_warm", lambda spark, spec, d: ran.append(("warm", spec.name)))
    monkeypatch.setattr(bench, "_time_query", time_query)
    monkeypatch.setattr(bench, "_sentinel_sec", lambda spark: calm)
    monkeypatch.setattr(scale_synth, "sf1_dir", lambda spark: "sf1")
    monkeypatch.setattr(tpch_dbgen, "tpch_dir", lambda sf: "dbgen")
    monkeypatch.setattr(lake, "streaming_throughput", throughput)
    return ran


def test_unit_runs_only_with_reserve_left(spark, monkeypatch, capsys, tmp_path, instant_units):
    # just above the reserve: every unit starts, and the key set is the
    # uncut run's
    line = _run_main(monkeypatch, capsys, tmp_path, spark, bench.RESERVE_S + 30.0)
    kinds = {"warm", "sf1", "dbgen", "throughput"}
    assert {n for d, n in instant_units if d not in kinds} == BENCH_NAMES  # the sweep
    assert {d for d, n in instant_units} >= kinds
    assert set(line) == UNCUT_KEYS
    # a failed query has no timing to contaminate
    assert line["queries"][FAILING] == -1.0
    assert line["contaminated"] is False
    # just below it: no unit starts, and every one is listed
    instant_units.clear()
    line = _run_main(monkeypatch, capsys, tmp_path, spark, bench.RESERVE_S - 0.001)
    assert instant_units == []
    assert set(line["contaminated_list"]) == BENCH_NAMES | {
        "sf1_block", "sf1_dbgen_block", "throughput",
    }


def test_drift_rule_around_threshold():
    base = 0.5
    below = bench._verdict({"q": base * bench.DRIFT * 0.99}, [], base)
    at = bench._verdict({"q": base * bench.DRIFT}, [], base)
    above = bench._verdict({"q": base * bench.DRIFT * 1.01, "calm": base}, [], base)
    for v in (below, at):
        assert v == {"guard_active": True, "contaminated": False}
    assert above == {
        "guard_active": True, "contaminated": True, "contaminated_list": ["q"],
    }
    # no BENCHBASE sentinel: the rule is off, and says so
    assert bench._verdict({"q": 99.0}, [], None) == {
        "guard_active": False, "contaminated": None,
    }
    # a cut unit is contaminated whether or not the rule is on, and listed once
    assert bench._verdict({}, ["sf1_block"], None)["contaminated_list"] == ["sf1_block"]
    assert bench._verdict({"sf1_block": 99.0}, ["sf1_block", "throughput"], base)[
        "contaminated_list"
    ] == ["sf1_block", "throughput"]


def test_stamp_absorbs_the_work_s_own_tail(monkeypatch):
    base = 0.566  # the 32-core regime in BENCHBASE.json

    def stamp(*readings):
        it = iter(readings)
        monkeypatch.setattr(bench, "_sentinel_sec", lambda spark: next(it))
        return bench._stamp(None)

    # after the sf1 block on an idle host: a high first run, then a calm one
    tail = stamp(1.657, 0.535)
    assert bench._verdict({"sf1_block": tail}, [], base)["contaminated"] is False
    # load from other processes slows both runs
    loaded = stamp(0.95, 0.9)
    assert bench._verdict({"q": loaded}, [], base)["contaminated_list"] == ["q"]


def test_main_prints_one_line_when_every_unit_is_cut(spark, monkeypatch, capsys, tmp_path):
    repo_detail = bench.DETAIL
    before = os.stat(repo_detail).st_mtime_ns if os.path.exists(repo_detail) else None

    line = _run_main(monkeypatch, capsys, tmp_path, spark, 0)

    assert set(line) == {
        "metric", "value", "unit", "queries", "sf", "runs_per_query",
        "guard_active", "contaminated", "contaminated_list", "sentinel_sec", "detail",
    }
    assert line["contaminated"] is True
    assert BENCH_NAMES <= set(line["contaminated_list"])
    assert {"sf1_block", "sf1_dbgen_block", "throughput"} <= set(line["contaminated_list"])
    assert line["queries"] == {} and line["value"] == 0
    assert json.loads((tmp_path / "BENCH_DETAIL.json").read_text())["contaminated"] is True
    after = os.stat(repo_detail).st_mtime_ns if os.path.exists(repo_detail) else None
    assert after == before
