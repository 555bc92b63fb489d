"""CLI command surface + RunStore entity queries — mirrors the reference's
list/get command semantics (`testgen/__main__.py:370-930`,
`commands/run_get_entities.py`, `template/get_entities/*.sql`)."""

import csv
import json
import os

import pytest

from dataops_testgen_spark.__main__ import main
from dataops_testgen_spark.store import RunStore

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def store_env(spark, tmp_path_factory):
    """One profile run + one test run recorded through the real CLI paths."""
    root = tmp_path_factory.mktemp("store")
    store_dir = str(root / "appdb")
    csv_dir = str(root / "csvs")
    os.makedirs(csv_dir)
    rc = main(["run-profile", "--data-dir", SF_DIR, "--store", store_dir,
               "--table-group", "tg1", "--csv-dir", csv_dir])
    assert rc == 0
    rc = main(["run-tests", "--data-dir", SF_DIR, "--store", store_dir,
               "--test-suite", "suite1", "--tables", "orders,customer",
               "--csv-dir", csv_dir])
    assert rc == 0
    return {"store": store_dir, "csv": csv_dir}


def _read_csv(path):
    with open(path) as fh:
        rows = list(csv.reader(fh))
    return rows[0], rows[1:]


def test_list_profiles(store_env, spark):
    store = RunStore(spark, store_env["store"])
    rows = store.list_profiles("tg1").collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["tables"] == 10          # all sf0.001 tables profiled
    assert r["columns"] > 40
    assert r["status"] == "Complete"
    # filter by unknown group -> empty
    assert store.list_profiles("nope").count() == 0


def test_profile_info_and_anomalies(store_env, spark):
    store = RunStore(spark, store_env["store"])
    run_id = store.list_profiles(None).first()["profile_run_id"]
    info = store.profile_info(run_id, "orders").collect()
    assert {r["table_name"] for r in info} == {"orders"}
    assert {"general_type", "column_type", "functional_data_type"} <= set(
        info[0].asDict())
    anom = store.profile_anomalies(run_id).collect()
    assert all(a["anomaly_type"] for a in anom)


def test_list_test_runs_and_results(store_env, spark):
    store = RunStore(spark, store_env["store"])
    runs = store.list_test_runs("suite1").collect()
    assert len(runs) == 1
    r = runs[0]
    assert r["result_ct"] > 0
    assert r["table_ct"] == 2         # orders + customer only
    res = store.test_results_for_run(r["test_run_id"]).collect()
    assert len(res) == r["result_ct"]
    fails = store.test_results_for_run(r["test_run_id"],
                                       fails_only=True).count()
    assert fails == (r["fail_ct"] or 0)
    # measure_uom joined from the test-type registry
    uoms = {x["measure_uom"] for x in res if x["test_type"] == "Unique"}
    assert uoms <= {"Duplicate values"}


def test_list_test_generation_and_info(store_env, spark):
    store = RunStore(spark, store_env["store"])
    gens = store.list_test_generation("suite1").collect()
    assert len(gens) == 1 and gens[0]["tests"] > 0
    info = store.test_info("suite1").collect()
    assert len(info) == gens[0]["tests"]
    assert all(i["dq_dimension"] for i in info if i["test_type"] == "Unique")


def test_list_suites_and_groups(store_env, spark):
    store = RunStore(spark, store_env["store"])
    suites = {r["test_suite_key"]: r["tests"]
              for r in store.list_test_suites().collect()}
    assert "suite1" in suites and suites["suite1"] > 0
    groups = store.list_table_groups().collect()
    assert [g["table_groups_id"] for g in groups] == ["tg1"]


def test_entity_queries_same_schema_on_empty_store(store_env, spark,
                                                  tmp_path):
    """Every entity query runs the same plan over a store that has never
    been written as over a populated one, so its columns and types do not
    depend on what the store holds."""
    full = RunStore(spark, store_env["store"])
    empty = RunStore(spark, str(tmp_path / "empty"))
    prof_run = full.list_profiles().first()["profile_run_id"]
    test_run = full.list_test_runs("suite1").first()["test_run_id"]
    queries = {
        "list_profiles": lambda s: s.list_profiles(),
        "profile_info": lambda s: s.profile_info(prof_run),
        "diff_profiles": lambda s: s.diff_profiles(),
        "profile_anomalies": lambda s: s.profile_anomalies(prof_run),
        "list_test_generation": lambda s: s.list_test_generation("suite1"),
        "test_info": lambda s: s.test_info("suite1"),
        "list_test_runs": lambda s: s.list_test_runs("suite1"),
        "test_results_for_run": lambda s: s.test_results_for_run(test_run),
        "list_test_suites": lambda s: s.list_test_suites(),
        "list_table_groups": lambda s: s.list_table_groups(),
    }
    for name, query in queries.items():
        want = [(f.name, f.dataType.simpleString())
                for f in query(full).schema]
        got = query(empty)
        assert [(f.name, f.dataType.simpleString())
                for f in got.schema] == want, name
        assert got.collect() == [], name


def test_entity_commands_write_csv(store_env):
    csv_dir = store_env["csv"]
    assert main(["list-profiles", "--store", store_env["store"],
                 "--csv-dir", csv_dir]) == 0
    header, rows = _read_csv(os.path.join(csv_dir, "list_profiles.csv"))
    assert "profile_run_id" in header and len(rows) == 1

    assert main(["list-test-runs", "--store", store_env["store"],
                 "--test-suite", "suite1", "--csv-dir", csv_dir]) == 0
    header, rows = _read_csv(os.path.join(csv_dir, "list_test_runs.csv"))
    run_id = rows[0][header.index("test_run_id")]

    assert main(["get-test-results", "--store", store_env["store"],
                 "--test-run-id", run_id, "--csv-dir", csv_dir]) == 0
    header, rows = _read_csv(os.path.join(csv_dir, "get_test_results.csv"))
    assert "result" in header and rows


def test_list_test_types_cmd(tmp_path):
    assert main(["list-test-types", "--csv-dir", str(tmp_path)]) == 0
    header, rows = _read_csv(str(tmp_path / "list_test_types.csv"))
    assert header == ["test_type", "test_description", "dq_dimension"]
    assert len(rows) == 51            # full reference catalog breadth
    types = {r[0] for r in rows}
    assert {"Unique", "CUSTOM", "Schema_Drift", "Aggregate_Balance"} <= types


def test_export_test_metadata(tmp_path):
    import yaml

    out = str(tmp_path / "meta")
    assert main(["export-test-metadata", "--path", out]) == 0
    files = sorted(os.listdir(out))
    assert len(files) == 51
    doc = yaml.safe_load(open(os.path.join(out, "test_types_Unique.yaml")))
    t = doc["test_types"][0]
    assert t["dq_dimension"] == "Uniqueness"
    assert t["run_type"] == "CAT"


def test_export_observability_cmd(store_env, tmp_path):
    out = str(tmp_path / "events.jsonl")
    assert main(["export-observability", "--store", store_env["store"],
                 "--test-suite", "suite1", "--doc", out,
                 "--csv-dir", str(tmp_path)]) == 0
    lines = [json.loads(x) for x in open(out)]
    assert lines and all(len(b["test_outcomes"]) <= 500 for b in lines)


def test_monitor_generation_cmd(store_env, tmp_path):
    assert main(["run-monitor-generation", "--data-dir", SF_DIR,
                 "--store", store_env["store"],
                 "--test-suite", "suite1",
                 "--csv-dir", str(tmp_path)]) == 0


def test_run_tests_reuses_stored_suite(store_env, spark, tmp_path, capsys):
    """Second run-tests against the same store executes the STORED suite
    (reference semantics: generation is a separate step; locks/edits
    survive) — no new generation is recorded, a second test run is."""
    rc = main(["run-tests", "--data-dir", SF_DIR,
               "--store", store_env["store"], "--test-suite", "suite1",
               "--csv-dir", str(tmp_path)])
    assert rc == 0
    out = capsys.readouterr().out
    assert "executing stored suite suite1" in out
    store = RunStore(spark, store_env["store"])
    assert store.list_test_generation("suite1").count() == 1
    runs = store.list_test_runs("suite1").collect()
    assert len(runs) == 2
    # both runs executed the same definitions -> same result counts
    assert runs[0]["result_ct"] == runs[1]["result_ct"]


def test_run_tests_notify_out(store_env, tmp_path):
    out = str(tmp_path / "notify.jsonl")
    rc = main(["run-tests", "--data-dir", SF_DIR,
               "--store", store_env["store"], "--test-suite", "suite1",
               "--notify-out", out,
               "--notify-trigger", "always,on_failures",
               "--csv-dir", str(tmp_path)])
    assert rc == 0
    events = [json.loads(x) for x in open(out)]
    assert events and all(e["event_type"] == "test_run" for e in events)
    assert {e["trigger"] for e in events} >= {"always"}
    assert all(e["test_ct"] > 0 for e in events)


def test_run_profile_store_notify_spearman(tmp_path, spark):
    """run-profile with --store AND --notify-out screens ONCE (r12 ADVICE:
    the two consumers used to re-run the Correlation/Dependence raw-data
    passes) and --spearman plumbs through to the cascade; the stored
    anomalies and the notification event both materialize."""
    store_dir = str(tmp_path / "appdb")
    out = str(tmp_path / "notify.jsonl")
    rc = main(["run-profile", "--data-dir", SF_DIR, "--store", store_dir,
               "--table-group", "tg_sp", "--notify-out", out,
               "--spearman", "--csv-dir", str(tmp_path)])
    assert rc == 0
    events = [json.loads(x) for x in open(out)]
    assert len(events) == 1 and events[0]["event_type"] == "profiling_run"
    store = RunStore(spark, store_dir)
    run_id = store.list_profiles("tg_sp").first()["profile_run_id"]
    anom = store.profile_anomalies(run_id).collect()
    assert anom and all(a["anomaly_type"] for a in anom)


def test_run_monitors_store_and_freshness(tmp_path, spark, capsys):
    """Two monitor cycles against a store: cycles are recorded as test
    runs under <suite>_monitors, and the second cycle's Table_Freshness
    compares fingerprints (static data -> 'no change', measure 0.0)."""
    store_dir = str(tmp_path / "monstore")
    for _ in range(2):
        assert main(["run-monitors", "--data-dir", SF_DIR,
                     "--store", store_dir, "--test-suite", "mon",
                     "--csv-dir", str(tmp_path)]) == 0
    store = RunStore(spark, store_dir)
    runs = store.list_test_runs("mon_monitors").collect()
    assert len(runs) == 2
    res = store.test_results_for_run(runs[0]["test_run_id"]).collect()
    fresh = [r for r in res if r["test_type"] == "Table_Freshness"]
    assert fresh and all(r["result_measure"] == 0.0 for r in fresh)
    vol = [r for r in res if r["test_type"] == "Volume_Trend"]
    # < 20 points of history -> still Log, no thresholds
    assert vol and all(r["result"] == "Log" for r in vol)


def test_run_monitors_reads_history_once_per_cycle(tmp_path, spark,
                                                   monkeypatch):
    """One run-monitors cycle over two tables reads test_results and
    test_runs once each, not once per monitor test."""
    data_dir = str(tmp_path / "data")
    for t in ("a", "b"):
        spark.range(10).toDF("v").coalesce(1).write.parquet(
            os.path.join(data_dir, f"{t}.parquet"))
    reads = []
    real_read = RunStore.read

    def counting_read(self, table):
        reads.append(table)
        return real_read(self, table)

    monkeypatch.setattr(RunStore, "read", counting_read)
    store_dir = str(tmp_path / "store")
    for _ in range(2):      # empty store, then one stored cycle
        reads.clear()
        assert main(["run-monitors", "--data-dir", data_dir,
                     "--store", store_dir, "--test-suite", "mon",
                     "--csv-dir", str(tmp_path)]) == 0
        assert sorted(reads) == ["test_results", "test_runs"]


def test_run_monitors_volume_thresholds(tmp_path, spark):
    """With >=20 stored cycles of volume history, Volume_Trend is
    evaluated against ARIMA-predicted tolerances: a steady series passes,
    and the thresholds bracket the stable value."""
    import datetime as dt

    store_dir = str(tmp_path / "volstore")
    store = RunStore(spark, store_dir)
    # seed 25 daily cycles of steady volume=100 for one tiny table dir
    data_dir = str(tmp_path / "data")
    os.makedirs(data_dir)
    spark.range(100).toDF("v").coalesce(1).write.parquet(
        os.path.join(data_dir, "tiny.parquet"))
    base = dt.datetime(2026, 1, 1)
    for i in range(25):
        rdf = spark.createDataFrame(
            [("mon_volume_tiny", "Volume_Trend", "tiny", None, "Log",
              None, None, 100.0 + (i % 3), None)],
            "test_id string, test_type string, table_name string, "
            "column_name string, result_status string, result_code int, "
            "result_message string, result_measure double, "
            "threshold_value string")
        store.record_test_run(
            rdf, test_suite_key="mon_monitors", run_date="2026-01-01",
            start_time=(base + dt.timedelta(days=i)).isoformat())
    assert main(["run-monitors", "--data-dir", data_dir,
                 "--store", store_dir, "--test-suite", "mon",
                 "--csv-dir", str(tmp_path)]) == 0
    runs = store.list_test_runs("mon_monitors").collect()
    latest = runs[0]["test_run_id"]
    res = {r["test_type"]: r
           for r in store.test_results_for_run(latest).collect()}
    vol = res["Volume_Trend"]
    assert vol["result"] == "Passed"
    assert vol["result_measure"] == 100.0


def test_quickstart_cmd_roundtrip(tmp_path, spark):
    data_dir = str(tmp_path / "demo")
    assert main(["quick-start", "--data-dir", data_dir]) == 0
    names = {f[:-8] for f in os.listdir(data_dir) if f.endswith(".parquet")}
    assert names  # demo tables written
    df = spark.read.parquet(os.path.join(data_dir, sorted(names)[0]
                                         + ".parquet"))
    assert df.count() > 0


def test_rollup_scores_cli_roundtrip(store_env, spark):
    """run-rollup-scores re-rolls a stored profile run's score from the
    store alone and the result equals rollup_scores computed directly over
    the same stored anomalies + record counts (the round-trip the
    reference's run_rollup_scores performs against its app DB)."""
    from pyspark.sql import functions as F

    from dataops_testgen_spark.scoring import rollup_scores
    from dataops_testgen_spark.store import RunStore

    rc = main(["run-rollup-scores", "--store", store_env["store"],
               "--csv-dir", store_env["csv"]])
    assert rc == 0
    hdr, rows = _read_csv(os.path.join(store_env["csv"],
                                       "rollup_profile_scores.csv"))
    assert rows and hdr[:4] == ["refresh_time", "kind", "run_id",
                                "group_key"]
    got = float(rows[0][hdr.index("dq_score")])

    store = RunStore(spark, store_env["store"])
    run_id = rows[0][hdr.index("run_id")]
    anomalies = store.read("profile_anomaly_results").filter(
        F.col("profile_run_id") == run_id)
    profile = store.read("profile_results").filter(
        F.col("profile_run_id") == run_id)
    detail = anomalies.join(
        profile.select("table_name", "column_name", "record_ct"),
        ["table_name", "column_name"], "left").filter("record_ct IS NOT NULL")
    want = rollup_scores(detail).collect()[0]["dq_score"]
    assert got == pytest.approx(want, rel=1e-9)
    # the re-roll landed in score_history
    hist = store.read("score_history")
    assert hist is not None and hist.filter(
        F.col("run_id") == run_id).count() >= 1


def test_rollup_scores_cli_test_kind(store_env, spark):
    from pyspark.sql import functions as F

    from dataops_testgen_spark.store import RunStore

    rc = main(["run-rollup-scores", "--kind", "test",
               "--store", store_env["store"], "--test-suite", "suite1",
               "--csv-dir", store_env["csv"]])
    assert rc == 0
    hdr, rows = _read_csv(os.path.join(store_env["csv"],
                                       "rollup_test_scores.csv"))
    assert rows and rows[0][hdr.index("kind")] == "test"
    score = float(rows[0][hdr.index("dq_score")])
    assert 0.0 <= score <= 1.0
    store = RunStore(spark, store_env["store"])
    assert store.read("score_history").filter(
        F.col("kind") == "test").count() >= 1


def test_recalculate_and_refresh_score_cards(store_env, spark):
    """recalculate-scores re-rolls every group + suite and refreshes the
    score-card snapshot; refresh-score-cards appends another timestamped
    snapshot with dimension and table categories (ref
    run_recalculate_project_scores + run_refresh_score_cards_results)."""
    from pyspark.sql import functions as F

    from dataops_testgen_spark.store import RunStore

    rc = main(["recalculate-scores", "--store", store_env["store"],
               "--csv-dir", store_env["csv"]])
    assert rc == 0
    hdr, rows = _read_csv(os.path.join(store_env["csv"],
                                       "recalculate_scores.csv"))
    kinds = {r[hdr.index("kind")] for r in rows}
    assert kinds == {"profile", "test"}

    store = RunStore(spark, store_env["store"])
    cards0 = store.read("score_cards").count()
    assert cards0 > 0  # recalculate refreshed the cards too
    rc = main(["refresh-score-cards", "--store", store_env["store"],
               "--csv-dir", store_env["csv"]])
    assert rc == 0
    hdr, rows = _read_csv(os.path.join(store_env["csv"], "score_cards.csv"))
    cats = {r[hdr.index("category")] for r in rows}
    assert cats == {"dq_dimension", "table_name"}
    for r in rows:
        assert 0.0 <= float(r[hdr.index("score")]) <= 1.0
    assert store.read("score_cards").count() > cards0


def test_recalculated_scores_stable_across_refreshes(store_env, spark):
    """Two refreshes over an unchanged store produce identical scores —
    the reference's idempotence expectation for recalculation."""
    from dataops_testgen_spark.scoring.refresh import rollup_profile_scores
    from dataops_testgen_spark.store import RunStore

    store = RunStore(spark, store_env["store"])
    a = rollup_profile_scores(store, record=False).collect()[0]
    b = rollup_profile_scores(store, record=False).collect()[0]
    assert a["dq_score"] == b["dq_score"]
    assert a["dq_total_data_points"] == b["dq_total_data_points"]


def test_incremental_profile_cli(spark, tmp_path):
    """run-profile --incremental: two disjoint --subset-condition slices
    (never rescanning the first) must reconstruct the full-table profile —
    record_ct/value_ct add, the sketch-backed metrics (distinct counts,
    date buckets, percentiles) match the one-shot full profile, and the
    store holds one run per increment."""
    import shutil

    from pyspark.sql import functions as F

    from dataops_testgen_spark.profiling.profiler import profile_table

    data_dir = str(tmp_path / "data")
    os.makedirs(data_dir)
    shutil.copy(os.path.join(SF_DIR, "orders.parquet"),
                os.path.join(data_dir, "orders.parquet"))
    store_dir = str(tmp_path / "store")
    csv_dir = str(tmp_path / "csv")
    os.makedirs(csv_dir)
    for cond in ("o_orderkey % 2 = 0", "o_orderkey % 2 = 1"):
        rc = main(["run-profile", "--data-dir", data_dir,
                   "--store", store_dir, "--table-group", "tg-inc",
                   "--csv-dir", csv_dir, "--incremental",
                   "--subset-condition", cond])
        assert rc == 0

    store = RunStore(spark, store_dir)
    runs = store.read("profiling_runs").orderBy("start_time").collect()
    assert len(runs) == 2
    last = store.read("profile_results").filter(
        F.col("profile_run_id") == runs[-1]["profile_run_id"])
    merged = {r["column_name"]: r for r in last.collect()}

    df = spark.read.parquet(os.path.join(data_dir, "orders.parquet"))
    full = {r["column_name"]: r for r in
            profile_table(df, "orders", run_date=runs[-1]["run_date"],
                          secondary=False).collect()}
    for c, f in full.items():
        m = merged[c]
        assert m["record_ct"] == f["record_ct"], c
        assert m["value_ct"] == f["value_ct"], c
        assert m["distinct_value_ct"] == f["distinct_value_ct"], c
        assert m["date_days_present"] == f["date_days_present"], c
        assert m["std_pattern_match"] == f["std_pattern_match"], c
        if f["percentile_50"] is not None:
            assert abs(m["percentile_50"] - f["percentile_50"]) < 1e-9, c


def test_diff_profiles_cli(spark, tmp_path):
    """diff-profiles: defaults to the table group's two latest runs and
    reports per-column metric drift — every orders column 'changed'
    between the half-corpus baseline and the full merged profile (counts
    doubled), with the a/b values matching the stored runs."""
    import shutil

    from pyspark.sql import functions as F

    data_dir = str(tmp_path / "data")
    os.makedirs(data_dir)
    shutil.copy(os.path.join(SF_DIR, "orders.parquet"),
                os.path.join(data_dir, "orders.parquet"))
    store_dir = str(tmp_path / "store")
    csv_dir = str(tmp_path / "csv")
    os.makedirs(csv_dir)
    for cond in ("o_orderkey % 2 = 0", "o_orderkey % 2 = 1"):
        rc = main(["run-profile", "--data-dir", data_dir,
                   "--store", store_dir, "--table-group", "tg-diff",
                   "--csv-dir", csv_dir, "--incremental",
                   "--subset-condition", cond])
        assert rc == 0
    rc = main(["diff-profiles", "--store", store_dir,
               "--table-group", "tg-diff", "--csv-dir", csv_dir])
    assert rc == 0
    hdr, rows = _read_csv(os.path.join(csv_dir, "diff_profiles.csv"))
    assert len(rows) == 6          # all orders columns drifted
    by_col = {r[hdr.index("column_name")]: r for r in rows}
    ok = by_col["o_orderkey"]
    assert ok[hdr.index("change")] == "changed"
    a = int(ok[hdr.index("record_ct_a")])
    b = int(ok[hdr.index("record_ct_b")])
    assert a < b and b == 1500     # sf0.001 orders full count
    # explicit run ids in either order work too
    store = RunStore(spark, store_dir)
    runs = [r["profile_run_id"] for r in
            store.read("profiling_runs").orderBy("start_time").collect()]
    d = store.diff_profiles(runs[0], runs[1]).collect()
    assert len(d) == 6
    # identical runs diff to nothing
    assert store.diff_profiles(runs[0], runs[0]).count() == 0
    # single-id defaults resolve INDEPENDENTLY (r5 ADVICE): run_a alone
    # diffs against the latest run; run_b alone against its predecessor —
    # both equal the explicit (runs[0], runs[1]) diff here
    want = sorted(map(tuple, d))
    assert sorted(map(tuple,
                      store.diff_profiles(run_a=runs[0]).collect())) == want
    assert sorted(map(tuple,
                      store.diff_profiles(run_b=runs[1]).collect())) == want


def test_bucketed_referential_run(spark, tmp_path):
    """The bucketing layer wired end-to-end through the CLI (r5 VERDICT
    'do this' #6): prepare-bucketed writes the data tables as external
    bucketed catalog tables; a STORED suite holding a referential
    Combo_Match definition executes through run-tests --bucketed (the
    QUERY-engine leg) and records its result; the same referential detail
    plan over the bucketed inputs contains NO shuffle Exchange; and with
    --bucket-store the store's result tables come back as bucketed
    catalog tables whose scoring join/rollup groupBy also plans
    Exchange-free — in a FRESH RunStore that learns the layout from the
    store meta, no flag."""
    store_dir = str(tmp_path / "appdb")
    bucket_dir = str(tmp_path / "bkt")
    csv_dir = str(tmp_path / "csv")
    os.makedirs(csv_dir)
    rc = main(["prepare-bucketed", "--data-dir", SF_DIR,
               "--bucket-dir", bucket_dir, "--buckets", "8"])
    assert rc == 0
    assert os.path.exists(os.path.join(bucket_dir, "manifest.json"))

    # store a suite with a referential QUERY test: every ordering customer
    # must exist in customer (passes on TPC-H by construction)
    store = RunStore(spark, store_dir)
    defs_df = spark.createDataFrame(
        [("Combo_Match", "orders", None,
          {"groupby_names": "o_custkey", "match_table_name": "customer",
           "match_groupby_names": "c_custkey", "threshold_value": "0"})],
        "test_type string, table_name string, column_name string, "
        "params map<string,string>")
    store.record_test_generation(defs_df, test_suite_key="ref_suite",
                                 run_date="2026-01-01")
    rc = main(["run-tests", "--data-dir", SF_DIR, "--store", store_dir,
               "--test-suite", "ref_suite", "--bucketed", bucket_dir,
               "--bucket-store", "8", "--csv-dir", csv_dir])
    assert rc == 0

    # the referential detail over bucketed inputs: zero shuffle Exchange
    from dataops_testgen_spark.__main__ import _load_tables
    from dataops_testgen_spark.execution.defs import TestDef
    from dataops_testgen_spark.execution.query_runner import (
        query_test_detail)

    tables = _load_tables(spark, SF_DIR, bucket_dir=bucket_dir)
    td = TestDef(test_id="cm", test_type="Combo_Match", table_name="orders",
                 params={"groupby_names": "o_custkey",
                         "match_table_name": "customer",
                         "match_groupby_names": "c_custkey",
                         "threshold_value": 0})
    plan = (query_test_detail(tables, td)
            ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange hashpartitioning" not in plan
    assert "Exchange rangepartitioning" not in plan

    # bucketed store: fresh RunStore picks the layout up from the meta and
    # the rollup-side groupBy on the bucket key plans Exchange-free
    fresh = RunStore(spark, store_dir)
    assert fresh.bucket_results == 8
    res = fresh.read("test_results")
    assert res is not None
    cm = res.filter(res.test_type == "Combo_Match").collect()
    assert len(cm) == 1
    assert cm[0]["result_status"] == "Passed"
    assert float(cm[0]["result_measure"]) == 0.0
    agg_plan = (res.groupBy("table_name", "column_name")
                .count()._jdf.queryExecution().executedPlan().toString())
    assert "Exchange hashpartitioning" not in agg_plan


def test_bucket_store_count_change_refused(spark, tmp_path):
    """Appending with a different bucket count into an established
    bucketed store would corrupt the file layout — refused explicitly."""
    import pytest as _pytest

    store_dir = str(tmp_path / "appdb")
    RunStore(spark, store_dir, bucket_results=8)
    RunStore(spark, store_dir, bucket_results=8)           # same: fine
    assert RunStore(spark, store_dir).bucket_results == 8  # sticky
    with _pytest.raises(ValueError, match="bucketed with 8"):
        RunStore(spark, store_dir, bucket_results=16)


def test_corpus_cli_roundtrip(spark, tmp_path, capsys):
    """corpus-index (two increments + compaction) -> corpus-search finds
    the indexed docs; corpus-curate writes per-doc decisions."""
    corpus = "/root/testdata/sf0.001/documents.parquet"
    idx = str(tmp_path / "cli_lex")
    assert main(["corpus-index", "--corpus", corpus, "--index-dir", idx,
                 "--condition", "doc_id % 2 = 0"]) == 0
    assert main(["corpus-index", "--corpus", corpus, "--index-dir", idx,
                 "--condition", "doc_id % 2 = 1", "--compact"]) == 0
    assert main(["corpus-search", "--index-dir", idx,
                 "--query", "spark shuffle window", "-k", "5"]) == 0
    lines = [ln for ln in capsys.readouterr().out.splitlines()
             if ln.strip() and ln.split()[0].isdigit()]
    assert len(lines) == 5

    out = str(tmp_path / "decisions")
    assert main(["corpus-curate", "--corpus", corpus, "--out", out,
                 "--allowed-langs", "de,en",
                 "--quality-flags", "word_count_ok,alpha_ratio_ok",
                 "--train-condition", "doc_id % 2 = 0"]) == 0
    dec = spark.read.parquet(out)
    assert dec.count() == 500
    assert set(dec.columns) == {"id", "quality_ok", "is_canonical",
                                "pred_lang", "keep"}
    assert 0 < dec.filter("keep").count() < 500

    # corpus-mix: the plan prints one line per source and the
    # materialized mix re-derives deterministically
    mix = str(tmp_path / "mix")
    assert main(["corpus-mix", "--corpus", corpus, "--tau", "0.5",
                 "--out", mix]) == 0
    printed = capsys.readouterr().out
    n_sources = spark.read.parquet(corpus) \
        .select("source").distinct().count()
    assert sum(1 for ln in printed.splitlines() if "keep=" in ln) \
        == n_sources
    first = sorted(r["doc_id"] for r in spark.read.parquet(mix).collect())
    assert main(["corpus-mix", "--corpus", corpus, "--tau", "0.5",
                 "--out", mix]) == 0
    assert sorted(r["doc_id"]
                  for r in spark.read.parquet(mix).collect()) == first


def test_events_cli(spark, tmp_path, capsys):
    """events-sessionize writes session stats matching the library call;
    events-funnel prints monotone step counts equal to the library's."""
    from pyspark.sql import functions as F

    from dataops_testgen_spark.pipeline.sessions import funnel, session_stats

    events = "/root/testdata/sf0.001/events.parquet"
    sess_out = str(tmp_path / "sessions")
    assert main(["events-sessionize", "--events", events,
                 "--gap-minutes", "30", "--out", sess_out]) == 0
    got = spark.read.parquet(sess_out)
    want = session_stats(spark.read.parquet(events), gap_minutes=30.0)
    assert got.count() == want.count()
    assert set(got.columns) == set(want.columns)
    assert "sessions (gap 30.0 min)" in capsys.readouterr().out

    assert main(["events-funnel", "--events", events,
                 "--steps", "view,click,purchase"]) == 0
    lines = [ln for ln in capsys.readouterr().out.splitlines()
             if ln.startswith("step ")]
    assert len(lines) == 3
    counts = [int(ln.rsplit(":", 1)[1].split()[0]) for ln in lines]
    assert counts == sorted(counts)          # deeper steps reach fewer
    ref = funnel(spark.read.parquet(events), ["view", "click", "purchase"])
    n_step1 = ref.count()
    n_step3 = ref.filter(F.col("steps_completed") == 3).count()
    assert counts[-1] == n_step1 and counts[0] == n_step3

    # a one-step chain is rejected
    assert main(["events-funnel", "--events", events,
                 "--steps", "view"]) == 2


def test_corpus_dedup_cli(spark, tmp_path, capsys):
    """corpus-dedup exact mode keeps exactly one doc per identical text
    (min id) plus all unique docs; near mode equals the library two-stage
    keep-one composition at the same threshold."""
    from pyspark.sql import functions as F

    from dataops_testgen_spark.pipeline.dedup import (dedup_keep_one,
                                                      verified_near_dups)

    corpus = "/root/testdata/sf0.001/documents.parquet"
    docs = spark.read.parquet(corpus)

    out = str(tmp_path / "exact_dedup")
    assert main(["corpus-dedup", "--corpus", corpus, "--out", out,
                 "--mode", "exact"]) == 0
    kept = spark.read.parquet(out)
    # one representative (the min id) per distinct text
    want_ids = {r["keep"] for r in
                docs.groupBy(F.md5("text").alias("h"))
                .agg(F.min("doc_id").alias("keep")).collect()}
    assert {r["doc_id"] for r in kept.collect()} == want_ids
    assert "exact dedup: kept" in capsys.readouterr().out

    out2 = str(tmp_path / "near_dedup")
    assert main(["corpus-dedup", "--corpus", corpus, "--out", out2,
                 "--mode", "near", "--threshold", "0.5"]) == 0
    got = {r["doc_id"] for r in spark.read.parquet(out2).collect()}
    ref = dedup_keep_one(docs, verified_near_dups(docs, threshold=0.5))
    assert got == {r["doc_id"] for r in ref.collect()}
    assert len(got) < docs.count()          # the fixture has near-dups


def test_corpus_decontaminate_cli(spark, tmp_path, capsys):
    """corpus-decontaminate drops exactly the docs sharing a k-gram with
    the benchmark set (here: a slice of the corpus itself, so overlap is
    guaranteed) and the report parquet matches the library op."""
    from dataops_testgen_spark.pipeline.dedup import ngram_contamination

    corpus = "/root/testdata/sf0.001/documents.parquet"
    docs = spark.read.parquet(corpus)
    bench_dir = str(tmp_path / "benchmark")
    docs.filter("doc_id % 25 = 0").write.parquet(bench_dir)

    out = str(tmp_path / "clean")
    report = str(tmp_path / "contam_report")
    assert main(["corpus-decontaminate", "--corpus", corpus,
                 "--benchmark", bench_dir, "--out", out,
                 "--report", report, "--k", "8"]) == 0
    hits = ngram_contamination(docs, spark.read.parquet(bench_dir), k=8)
    contaminated = {r["id"] for r in hits.collect()}
    assert contaminated                      # self-slice guarantees hits
    kept = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    assert kept == {r["doc_id"] for r in docs.collect()} - contaminated
    got_report = {(r["id"], r["n_contaminated_ngrams"])
                  for r in spark.read.parquet(report).collect()}
    assert got_report == {(r["id"], r["n_contaminated_ngrams"])
                          for r in hits.collect()}
    assert "decontaminated at 8-grams" in capsys.readouterr().out


def test_corpus_lm_cli(spark, tmp_path, capsys):
    """corpus-lm-train persists the model once; corpus-lm-score infers
    the order from the model, matches the library scores, and the
    --max-score gate keeps exactly the docs at or below the threshold."""
    from pyspark.sql import functions as F

    from dataops_testgen_spark.pipeline.text import ngram_lm_score

    corpus = "/root/testdata/sf0.001/documents.parquet"
    model = str(tmp_path / "lm_model")
    out = str(tmp_path / "lm_kept")
    assert main(["corpus-lm-train", "--corpus", corpus,
                 "--model", model, "--order", "4"]) == 0
    assert "order-4 LM model" in capsys.readouterr().out

    assert main(["corpus-lm-score", "--corpus", corpus,
                 "--model", model, "--max-score", "50",
                 "--out", out]) == 0
    msg = capsys.readouterr().out
    assert "order-4 LM scored 500 docs" in msg
    got = {r["id"]: r["score"] for r in spark.read.parquet(out).collect()}
    docs = spark.read.parquet(corpus)
    ref = ngram_lm_score(docs, n=4, train_df=docs)
    want = {r["id"]: r["score"]
            for r in ref.filter(F.col("score") <= 50).collect()}
    assert set(got) == set(want) and got
    for k in got:
        assert abs(got[k] - want[k]) < 1e-9


def test_events_retention_cli(spark, tmp_path, capsys):
    """events-retention one-shot rollup equals the library call; with
    --state the same events split over two invocations fold into the
    persisted per-user state and the rollup equals the one-shot over the
    union; a replayed invocation... uses a new batch id by design, but
    re-folding identical events is a no-op on the state (masks OR
    idempotently)."""
    from dataops_testgen_spark.pipeline.sessions import retention_cohorts

    events = "/root/testdata/sf0.001/events.parquet"
    out = str(tmp_path / "retention")
    assert main(["events-retention", "--events", events,
                 "--horizons", "1,7", "--out", out]) == 0
    got = {tuple(r) for r in spark.read.parquet(out).collect()}
    want = {tuple(r) for r in
            retention_cohorts(spark.read.parquet(events),
                              horizons=(1, 7)).collect()}
    assert got == want and got
    assert "cohorts" in capsys.readouterr().out

    # incremental state mode over a two-way split
    ev = spark.read.parquet(events)
    a, b = str(tmp_path / "ev_a"), str(tmp_path / "ev_b")
    ev.filter("user_id % 2 = 0").write.parquet(a)
    ev.filter("user_id % 2 = 1").write.parquet(b)
    state = str(tmp_path / "ret_state")
    assert main(["events-retention", "--events", a,
                 "--state", state]) == 0
    assert main(["events-retention", "--events", b,
                 "--state", state, "--out", out]) == 0
    got2 = {tuple(r) for r in spark.read.parquet(out).collect()}
    assert got2 == want
    # horizons past the mask bound are refused, not silently wrong
    assert main(["events-retention", "--events", b, "--state", state,
                 "--horizons", "45", "--max-horizon", "30"]) == 2


def test_vector_cli_roundtrip(spark, tmp_path, capsys):
    """vector-index (train-on-first-append, second increment reuses the
    stored quantizers, compaction) -> corpus-search --ann runs the
    two-stage retrieval (IVFADC shortlist + exact re-rank) and its top-k
    equals brute-force exact cosine over the indexed corpus restricted
    to the shortlist's recall set."""
    vectors = "/root/testdata/sf0.001/embeddings.parquet"
    idx = str(tmp_path / "cli_ann")
    assert main(["vector-index", "--vectors", vectors, "--index-dir", idx,
                 "--condition", "vec_id % 2 = 0", "--cells", "8"]) == 0
    assert "trained" in capsys.readouterr().out
    assert main(["vector-index", "--vectors", vectors, "--index-dir", idx,
                 "--condition", "vec_id % 2 = 1", "--compact"]) == 0
    out = capsys.readouterr().out
    assert "trained" not in out and "compacted" in out

    assert main(["corpus-search", "--ann", "--index-dir", idx,
                 "--vectors", vectors, "--query-id", "7", "-k", "5"]) == 0
    lines = [ln.split() for ln in capsys.readouterr().out.splitlines()
             if ln.strip() and ln.split()[0].isdigit()]
    assert len(lines) == 5
    ranks = [int(l[0]) for l in lines]
    cosines = [float(l[1]) for l in lines]
    neighbors = [int(l[2]) for l in lines]
    assert ranks == [1, 2, 3, 4, 5]
    assert cosines == sorted(cosines, reverse=True)
    assert 7 not in neighbors          # self is excluded
    # exact re-rank really ran: every printed cosine matches the true
    # cosine of that (query, neighbor) pair
    import numpy as np
    emb = {r["vec_id"]: np.asarray(r["embedding"], dtype=float)
           for r in spark.read.parquet(vectors).collect()}
    q = emb[7] / np.linalg.norm(emb[7])
    for nb, c in zip(neighbors, cosines):
        v = emb[nb] / np.linalg.norm(emb[nb])
        assert abs(float(q @ v) - c) < 1e-5, nb

    # guardrails: missing params exit 2, not a stack trace
    assert main(["corpus-search", "--ann", "--index-dir", idx]) == 2
    assert main(["corpus-search", "--index-dir", idx]) == 2
    capsys.readouterr()


def test_vector_kmeans_cli(spark, tmp_path, capsys):
    """vector-kmeans trains the deterministic spherical quantizer, writes
    the (cell, centroid) model parquet, and the optional assignment
    parquet covers every valid vector with cells in [0, k)."""
    vectors = "/root/testdata/sf0.001/embeddings.parquet"
    cents = str(tmp_path / "cents")
    assign = str(tmp_path / "assign")
    assert main(["vector-kmeans", "--vectors", vectors, "--out", cents,
                 "-k", "4", "--iters", "2", "--assign-out", assign]) == 0
    assert "trained 4 cosine centroids" in capsys.readouterr().out
    model = spark.read.parquet(cents).orderBy("cell").collect()
    assert [r["cell"] for r in model] == [0, 1, 2, 3]
    assert all(len(r["centroid"]) == 64 for r in model)
    a = spark.read.parquet(assign)
    n_vec = spark.read.parquet(vectors).count()
    assert a.count() == n_vec
    cells = {r["cell"] for r in a.select("cell").distinct().collect()}
    assert cells <= {0, 1, 2, 3}
    # the model is reproducible: retraining writes identical centroids
    cents2 = str(tmp_path / "cents2")
    assert main(["vector-kmeans", "--vectors", vectors, "--out", cents2,
                 "-k", "4", "--iters", "2"]) == 0
    capsys.readouterr()
    model2 = spark.read.parquet(cents2).orderBy("cell").collect()
    assert [list(r["centroid"]) for r in model2] == \
        [list(r["centroid"]) for r in model]
    # l2 metric path trains via train_ivf_centroids
    cents3 = str(tmp_path / "cents3")
    assert main(["vector-kmeans", "--vectors", vectors, "--out", cents3,
                 "-k", "4", "--iters", "2", "--metric", "l2"]) == 0
    assert "l2 centroids" in capsys.readouterr().out
    # --assign-out with l2 is refused (exit 2), not a stack trace
    assert main(["vector-kmeans", "--vectors", vectors,
                 "--out", str(tmp_path / "c4"), "--metric", "l2",
                 "--assign-out", str(tmp_path / "a4")]) == 2


def test_corpus_quality_cli_roundtrip(spark, tmp_path, capsys):
    """corpus-quality-train persists the LR weight relation; corpus-
    quality-score rebuilds identical features (same buckets/salt) and
    gates by sigmoid score — kept + dropped partitions the corpus, and
    re-scoring with the persisted model matches an in-process
    lr_score run exactly."""
    from pyspark.sql import functions as F

    from dataops_testgen_spark.pipeline.classify import (lr_hash_features,
                                                         lr_score)

    labeled = str(tmp_path / "labeled")
    (spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
     .filter(F.col("text").isNotNull() & (F.trim("text") != ""))
     .withColumn("is_en", (F.col("lang") == "en").cast("int"))
     .write.parquet(labeled))
    model = str(tmp_path / "lr_model")
    assert main(["corpus-quality-train", "--corpus", labeled,
                 "--label-col", "is_en", "--model", model,
                 "--iters", "4", "--salt", "clitest"]) == 0
    assert "LR quality model" in capsys.readouterr().out

    out = str(tmp_path / "kept")
    # scoring takes buckets/salt from the model's OWN meta (a mismatch
    # would silently hash grams to the wrong features) — no flags needed
    assert main(["corpus-quality-score", "--corpus", labeled,
                 "--model", model, "--out", out, "--min-p", "0.5"]) == 0
    msg = capsys.readouterr().out
    assert "scored" in msg and "kept" in msg
    meta = spark.read.parquet(model + "/meta").first()
    assert (meta["buckets"], meta["salt"]) == (512, "clitest")

    docs = spark.read.parquet(labeled)
    w = {int(r["f"]): float(r["w"])
         for r in spark.read.parquet(model + "/weights").collect()}
    expect = (lr_score(lr_hash_features(docs, salt="clitest"), w)
              .filter(F.col("p") >= 0.5))
    got = spark.read.parquet(out)
    assert got.count() == expect.count()
    merged = got.select("id", F.col("p").alias("gp")).join(
        expect.select("id", "p"), "id")
    assert merged.count() == got.count()
    assert merged.filter(F.col("gp") != F.col("p")).count() == 0


def test_null_safe_bucketed_referential_run(spark, tmp_path):
    """prepare-bucketed --null-safe-keys writes tables bucketed by the
    materialized struct group key; a stored suite holding BOTH
    referential shapes (Combo_Match + Aggregate_Balance) executes
    through run-tests --bucketed, the runner auto-dispatches to the
    struct-key plans via the manifest, and BOTH detail plans contain
    ZERO shuffle Exchange — the r7 close of the last bucketed-join gap
    (the eqNullSafe Aggregate_Balance join used to shuffle)."""
    store_dir = str(tmp_path / "appdb")
    bucket_dir = str(tmp_path / "bkt_ns")
    csv_dir = str(tmp_path / "csv")
    os.makedirs(csv_dir)
    rc = main(["prepare-bucketed", "--data-dir", SF_DIR,
               "--bucket-dir", bucket_dir, "--buckets", "8",
               "--null-safe-keys"])
    assert rc == 0
    manifest = json.load(open(os.path.join(bucket_dir, "manifest.json")))
    assert manifest["orders"]["null_safe_key"] is True

    store = RunStore(spark, store_dir)
    defs_df = spark.createDataFrame(
        [("Combo_Match", "orders", None,
          {"groupby_names": "o_custkey", "match_table_name": "customer",
           "match_groupby_names": "c_custkey", "threshold_value": "0"}),
         ("Aggregate_Minimum", "orders", "o_totalprice",
          {"groupby_names": "o_custkey", "match_table_name": "customer",
           "match_groupby_names": "c_custkey",
           "agg_expression": "SUM(o_totalprice)",
           "match_agg_expression": "SUM(c_acctbal) * 0",
           "threshold_value": "100000"})],
        "test_type string, table_name string, column_name string, "
        "params map<string,string>")
    store.record_test_generation(defs_df, test_suite_key="ns_suite",
                                 run_date="2026-01-01")
    rc = main(["run-tests", "--data-dir", SF_DIR, "--store", store_dir,
               "--test-suite", "ns_suite", "--bucketed", bucket_dir,
               "--csv-dir", csv_dir])
    assert rc == 0
    res = RunStore(spark, store_dir).read("test_results")
    by_type = {r["test_type"]: r for r in res.collect()}
    assert by_type["Combo_Match"]["result_status"] == "Passed"
    assert by_type["Aggregate_Minimum"]["result_status"] is not None

    # both detail plans over the null-safe layout: zero shuffle Exchange
    from dataops_testgen_spark.__main__ import _load_tables
    from dataops_testgen_spark.execution.defs import TestDef
    from dataops_testgen_spark.execution.query_runner import (
        query_test_detail)
    from dataops_testgen_spark.io.bucketing import struct_key_map

    tables = _load_tables(spark, SF_DIR, bucket_dir=bucket_dir)
    skeys = struct_key_map(bucket_dir)
    assert skeys["orders"] == ["o_custkey"]
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        for td in (
            TestDef(test_id="cm", test_type="Combo_Match",
                    table_name="orders",
                    params={"groupby_names": "o_custkey",
                            "match_table_name": "customer",
                            "match_groupby_names": "c_custkey",
                            "threshold_value": 0}),
            TestDef(test_id="ab", test_type="Aggregate_Balance",
                    table_name="orders", column_name="o_totalprice",
                    params={"groupby_names": "o_custkey",
                            "match_table_name": "customer",
                            "match_groupby_names": "c_custkey",
                            "agg_expression": "SUM(o_totalprice)",
                            "match_agg_expression": "SUM(c_acctbal)",
                            "threshold_value": 0}),
        ):
            plan = (query_test_detail(tables, td, struct_keys=skeys)
                    ._jdf.queryExecution().executedPlan().toString())
            assert "Exchange" not in plan, (td.test_type, plan)
            # keys that DON'T match the bucket layout fall back cleanly
            td2 = TestDef(test_id="x", test_type=td.test_type,
                          table_name="orders",
                          column_name=td.column_name,
                          params={**td.params,
                                  "groupby_names": "o_orderstatus",
                                  "match_groupby_names": "c_mktsegment"})
            query_test_detail(tables, td2, struct_keys=skeys).count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_hybrid_search_cli(spark, tmp_path, capsys):
    """corpus-search --hybrid fuses the lexical-index BM25 ranking with
    the ANN-index two-stage vector ranking by reciprocal rank: top-k
    printed with fused scores; a doc ranked by BOTH legs outranks a doc
    of either single leg with the same best rank."""
    corpus = "/root/testdata/sf0.001/documents.parquet"
    vectors = "/root/testdata/sf0.001/embeddings.parquet"
    lex_idx = str(tmp_path / "hy_lex")
    ann_idx = str(tmp_path / "hy_ann")
    assert main(["corpus-index", "--corpus", corpus,
                 "--index-dir", lex_idx]) == 0
    assert main(["vector-index", "--vectors", vectors,
                 "--index-dir", ann_idx, "--cells", "8"]) == 0
    capsys.readouterr()
    assert main(["corpus-search", "--hybrid", "--index-dir", lex_idx,
                 "--ann-index", ann_idx, "--vectors", vectors,
                 "--query", "spark shuffle window", "--query-id", "7",
                 "-k", "5"]) == 0
    lines = [ln.split() for ln in capsys.readouterr().out.splitlines()
             if ln.strip() and ln.split()[0].isdigit()]
    assert len(lines) == 5
    scores = [float(l[1]) for l in lines]
    assert scores == sorted(scores, reverse=True) and scores[0] > 0
    # fused scores are sums of reciprocal ranks: bounded by 2/(60+1)
    assert all(sc <= 2 / 61 + 1e-12 for sc in scores)
    # missing legs exit 2
    assert main(["corpus-search", "--hybrid",
                 "--index-dir", lex_idx]) == 2
    capsys.readouterr()


def test_record_link_cli(spark, tmp_path, capsys):
    from dataops_testgen_spark.__main__ import main

    rows = [(1, "john smith", "12 oak st"), (2, "jon smith", "12 oak st"),
            (3, "john smith", "99 elm ave")]
    data = str(tmp_path / "people")
    spark.createDataFrame(rows, "pid int, name string, addr string") \
        .write.parquet(data)
    out = str(tmp_path / "pairs")
    rc = main(["record-link", "--data", data, "--id-col", "pid",
               "--field", "name:levenshtein:1:0.95:0.05",
               "--field", "addr:exact",
               "--out", out, "--threshold", "3.0"])
    assert rc == 0
    got = {(r["id_a"], r["id_b"]) for r in spark.read.parquet(out).collect()}
    assert got == {(1, 2)}
    assert "scored pairs" in capsys.readouterr().out
    # malformed field spec and bad (m, u) both exit 2 cleanly
    assert main(["record-link", "--data", data, "--id-col", "pid",
                 "--field", "name", "--out", out]) == 2
    assert main(["record-link", "--data", data, "--id-col", "pid",
                 "--field", "name:exact:0:0.2:0.9", "--out", out]) == 2


def test_vector_opq_cli(spark, tmp_path, capsys):
    from dataops_testgen_spark.__main__ import main

    out = str(tmp_path / "opq")
    rc = main(["vector-opq",
               "--vectors", "/root/testdata/sf0.001/embeddings.parquet",
               "--out", out, "--m", "4", "--k", "8", "--iters", "1",
               "--condition", "vec_id < 200"])
    assert rc == 0
    rot = spark.read.parquet(out + "/rotation")
    cbk = spark.read.parquet(out + "/codebook")
    assert rot.count() == 64 and cbk.count() == 4 * 8
    assert "OPQ model" in capsys.readouterr().out
    # fewer than k vectors -> clean exit 2
    assert main(["vector-opq",
                 "--vectors", "/root/testdata/sf0.001/embeddings.parquet",
                 "--out", out, "--m", "4", "--k", "8", "--iters", "1",
                 "--condition", "vec_id < 3"]) == 2


def test_record_link_train_cli(spark, tmp_path, capsys):
    from dataops_testgen_spark.__main__ import main

    out = str(tmp_path / "fsmodel")
    rc = main(["record-link-train",
               "--data", "/root/testdata/sf0.001/part.parquet",
               "--id-col", "p_partkey",
               "--field", "p_name:levenshtein:3",
               "--field", "p_brand:exact",
               "--out", out, "--iters", "3"])
    assert rc == 0
    got = {r["field"]: r for r in spark.read.parquet(out).collect()}
    assert set(got) == {"p_name", "p_brand"}
    for r in got.values():
        assert 0.0 <= r["u"] <= 1.0 and 0.0 <= r["m"] <= 1.0
        assert r["n_pairs"] > 0
    assert "EM over" in capsys.readouterr().out
    assert main(["record-link-train", "--data",
                 "/root/testdata/sf0.001/part.parquet",
                 "--id-col", "p_partkey", "--field", "p_name",
                 "--out", out]) == 2
    # --three-state: Winkler ternary patterns train on the same data
    # (no NULLs -> identical estimates to the 2-state run)
    out3 = str(tmp_path / "fsmodel3")
    rc = main(["record-link-train",
               "--data", "/root/testdata/sf0.001/part.parquet",
               "--id-col", "p_partkey",
               "--field", "p_name:levenshtein:3",
               "--field", "p_brand:exact",
               "--out", out3, "--iters", "3", "--three-state"])
    assert rc == 0
    got3 = {r["field"]: r for r in spark.read.parquet(out3).collect()}
    for f, r in got.items():
        assert got3[f]["m"] == r["m"] and got3[f]["u"] == r["u"]


def test_record_link_model_roundtrip_cli(spark, tmp_path):
    """record-link --model consumes record-link-train's learned weights:
    scoring with the model equals scoring with the same (m, u) passed
    inline."""
    from dataops_testgen_spark.__main__ import main

    data = "/root/testdata/sf0.001/part.parquet"
    model = str(tmp_path / "fsmodel")
    assert main(["record-link-train", "--data", data,
                 "--id-col", "p_partkey",
                 "--field", "p_name:levenshtein:3",
                 "--field", "p_brand:exact",
                 "--out", model, "--iters", "3"]) == 0
    w = {r["field"]: (r["m"], r["u"])
         for r in spark.read.parquet(model).collect()}

    out_m = str(tmp_path / "via_model")
    assert main(["record-link", "--data", data, "--id-col", "p_partkey",
                 "--field", "p_name:levenshtein:3",
                 "--field", "p_brand:exact",
                 "--model", model, "--out", out_m,
                 "--condition", "p_partkey < 200"]) == 0
    out_i = str(tmp_path / "inline")
    assert main(["record-link", "--data", data, "--id-col", "p_partkey",
                 "--field",
                 f"p_name:levenshtein:3:{w['p_name'][0]!r}:{w['p_name'][1]!r}",
                 "--field",
                 f"p_brand:exact:0:{w['p_brand'][0]!r}:{w['p_brand'][1]!r}",
                 "--out", out_i, "--condition", "p_partkey < 200"]) == 0
    a = sorted(tuple(r) for r in spark.read.parquet(out_m).collect())
    b = sorted(tuple(r) for r in spark.read.parquet(out_i).collect())
    assert a == b and a


def test_vector_index_opq_model_cli(spark, tmp_path, capsys):
    """vector-index --opq-model: first build trains quantizers in the
    rotated space and persists the rotation; a later append reuses it
    from the index itself; probing returns neighbors; using --opq-model
    against an unrotated existing index exits 2."""
    from dataops_testgen_spark.__main__ import main
    from dataops_testgen_spark.pipeline.similarity import ann_index_probe

    vecs = "/root/testdata/sf0.001/embeddings.parquet"
    opq = str(tmp_path / "opq")
    assert main(["vector-opq", "--vectors", vecs, "--out", opq,
                 "--m", "4", "--k", "8", "--iters", "1",
                 "--condition", "vec_id < 300"]) == 0
    idx = str(tmp_path / "idx")
    assert main(["vector-index", "--vectors", vecs, "--index-dir", idx,
                 "--cells", "4", "--codewords", "8",
                 "--opq-model", opq,
                 "--condition", "vec_id < 200"]) == 0
    assert "OPQ-rotated" in capsys.readouterr().out
    # later append: rotation comes from the index, not the flag
    assert main(["vector-index", "--vectors", vecs, "--index-dir", idx,
                 "--condition", "vec_id >= 200 AND vec_id < 300"]) == 0
    emb = spark.read.parquet(vecs)
    q = emb.filter("vec_id < 3")
    out = ann_index_probe(q, idx, k=5, nprobe=4)
    assert out.count() == 15
    # flag against an unrotated index -> clean exit 2
    plain = str(tmp_path / "plain_idx")
    assert main(["vector-index", "--vectors", vecs, "--index-dir", plain,
                 "--cells", "4", "--codewords", "8",
                 "--condition", "vec_id < 100"]) == 0
    capsys.readouterr()
    assert main(["vector-index", "--vectors", vecs, "--index-dir", plain,
                 "--opq-model", opq,
                 "--condition", "vec_id >= 100 AND vec_id < 150"]) == 2
