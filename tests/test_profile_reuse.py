"""The CLI's profile consumers (run-tests, run-test-generation,
run-monitor-generation, discover-fks) reuse the stored profile of unchanged
inputs: ``profiling_runs.input_key`` hashes the input files, the run date and
the profiling options, and a stored run with the same key is read instead of
profiling again."""

import json
import os
import shutil

import pyarrow.parquet as pq
import pytest

from dataops_testgen_spark.__main__ import _load_tables, _profile_all, main
from dataops_testgen_spark.profiling import profiler as P
from dataops_testgen_spark.store import RunStore, profile_input_key

SF_DIR = "/root/testdata/sf0.001"
RUN_DATE = "2026-08-01"


@pytest.fixture
def data(tmp_path):
    d = tmp_path / "data"
    d.mkdir()
    for t in ("customer", "orders"):
        shutil.copyfile(f"{SF_DIR}/{t}.parquet", d / f"{t}.parquet")
    return str(d)


@pytest.fixture
def profile_calls(monkeypatch):
    calls = []
    real = P.profile_tables

    def counted(*args, **kwargs):
        calls.append(1)
        return real(*args, **kwargs)

    monkeypatch.setattr(P, "profile_tables", counted)
    return calls


def _cli(cmd, data, store, *extra, run_date=RUN_DATE):
    assert main([cmd, "--data-dir", data, "--store", store,
                 "--run-date", run_date,
                 "--csv-dir", os.path.dirname(store), *extra]) == 0


def _canon(rows, drop=()):
    def fix(v):
        return round(v, 9) if isinstance(v, float) else v
    return sorted(json.dumps({k: fix(v) for k, v in r.items()
                              if k not in drop}, sort_keys=True, default=str)
                  for r in rows)


def _hit(spark, data, store, run_date=RUN_DATE):
    key = profile_input_key(_load_tables(spark, data), run_date)
    return RunStore(spark, store).stored_profile(key) is not None


def _parquet_files(path):
    return [f for _d, _s, fs in os.walk(path) for f in fs
            if f.endswith(".parquet")]


def test_run_tests_reuses_stored_profile(spark, tmp_path, data,
                                         profile_calls, monkeypatch):
    """run-tests after run-profile on the same files does not profile, and
    its results, generated suite and scores equal those of a run against a
    store with no matching profile."""
    listed = []
    real_list = RunStore.list_test_runs
    monkeypatch.setattr(RunStore, "list_test_runs",
                        lambda self, suite: listed.append(suite)
                        or real_list(self, suite))
    reused, fresh = str(tmp_path / "reused"), str(tmp_path / "fresh")
    _cli("run-profile", data, reused)
    calls = {}
    for name, store in (("reused", reused), ("fresh", fresh)):
        n = len(profile_calls)
        _cli("run-tests", data, store, "--test-suite", "s",
             "--out", str(tmp_path / f"out_{name}"))
        calls[name] = len(profile_calls) - n
    assert calls == {"reused": 0, "fresh": 1}
    # the previous run is read only for --notify-out
    assert listed == []

    for table in ("test_results", "test_scores"):
        got = [pq.read_table(str(tmp_path / f"out_{n}" / table)).to_pylist()
               for n in ("reused", "fresh")]
        assert got[0] and _canon(got[0]) == _canon(got[1]), table
    suites = [pq.read_table(os.path.join(s, "test_definitions")).to_pylist()
              for s in (reused, fresh)]
    assert suites[0] and (_canon(suites[0], drop={"last_auto_gen_date"})
                          == _canon(suites[1], drop={"last_auto_gen_date"}))

    # the reused frame is the stored profile: same columns, same rows
    tables = _load_tables(spark, data)
    a = _profile_all(spark, tables, RUN_DATE, store=RunStore(spark, reused))
    b = _profile_all(spark, tables, RUN_DATE)
    assert a.columns == b.columns
    assert a.rdd.getNumPartitions() == 1
    assert ([r.asDict() for r in a.collect()]
            == [r.asDict() for r in b.collect()])

    # one-row headers write one file each
    for table in ("profiling_runs", "test_suites", "test_runs"):
        assert len(_parquet_files(os.path.join(reused, table))) == 1, table


def test_profile_reuse_misses(spark, tmp_path, data):
    """Other options, another run date, an incremental (merged) profile or
    a rewritten file never reuse a stored profile."""
    store = str(tmp_path / "store")
    _cli("run-profile", data, store, "--sample")
    assert not _hit(spark, data, store)
    _cli("run-profile", data, store, "--approx")
    assert not _hit(spark, data, store)
    _cli("run-profile", data, store, "--incremental")
    assert not _hit(spark, data, store)
    keys = [r["input_key"] for r in
            RunStore(spark, store).read("profiling_runs").collect()]
    assert len(keys) == 3 and sum(k is None for k in keys) == 1
    _cli("run-profile", data, store)
    assert _hit(spark, data, store)
    assert not _hit(spark, data, store, run_date="2026-08-02")
    orders = os.path.join(data, "orders.parquet")
    pq.write_table(pq.read_table(orders).slice(0, 100), orders)
    assert not _hit(spark, data, store)


def test_store_written_before_input_key(spark, tmp_path, data):
    """profiling_runs is read with its declared schema: a header written
    without input_key reads it as NULL (never reused), list-profiles still
    works, and the read submits no job."""
    store = str(tmp_path / "store")
    _cli("run-profile", data, store)
    runs_dir = os.path.join(store, "profiling_runs")
    old = spark.read.parquet(runs_dir).drop("input_key").collect()
    shutil.rmtree(runs_dir)
    # the old header: six columns, one row parallelized over the cores
    spark.createDataFrame(
        old, "profile_run_id string, project_key string, table_groups_id "
        "string, start_time string, run_date string, status string"
    ).write.parquet(runs_dir)
    assert not _hit(spark, data, store)

    _cli("run-profile", data, store)
    rs = RunStore(spark, store)
    st = spark.sparkContext.statusTracker()
    before = set(st.getJobIdsForGroup(None))
    runs = rs.read("profiling_runs")
    assert set(st.getJobIdsForGroup(None)) == before
    keyed = {r["profile_run_id"]: r["input_key"] for r in runs.collect()}
    assert len(keyed) == 2 and keyed[old[0]["profile_run_id"]] is None
    assert _hit(spark, data, store)
    assert main(["list-profiles", "--store", store,
                 "--csv-dir", str(tmp_path)]) == 0
    with open(tmp_path / "list_profiles.csv") as fh:
        assert len(fh.read().splitlines()) == 3


def test_bucketed_store_reuses_profile(spark, tmp_path, data):
    """A bucketed store holds profile rows in bucket order; the reused
    frame is still the profile in its fresh row order."""
    store = str(tmp_path / "store")
    _cli("run-tests", data, store, "--test-suite", "s", "--bucket-store", "4")
    _cli("run-profile", data, store)
    tables = _load_tables(spark, data)
    a = _profile_all(spark, tables, RUN_DATE, store=RunStore(spark, store))
    b = _profile_all(spark, tables, RUN_DATE)
    assert _hit(spark, data, store)
    assert ([(r["table_name"], r["column_name"], r["functional_data_type"])
             for r in a.collect()]
            == [(r["table_name"], r["column_name"], r["functional_data_type"])
                for r in b.collect()])
