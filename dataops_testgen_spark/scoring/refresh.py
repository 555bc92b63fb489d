"""Store-backed score recomputation — the reference's scoring-refresh verbs
re-expressed over the parquet RunStore:

- ``rollup_profile_scores`` / ``rollup_test_scores`` mirror
  ``run_rollup_scores.py:run_profile_rollup_scoring_queries`` /
  ``run_test_rollup_scoring_queries`` (rollup one stored run's scores
  without re-running it);
- ``recalculate_project_scores`` mirrors
  ``run_recalculate_project_scores.py:run_recalculate_project_scores``
  (latest complete profile run per table group + latest test run per
  suite, re-rolled — used when weighting config changes);
- ``refresh_score_cards`` mirrors
  ``run_refresh_score_cards_results.py:run_refresh_score_cards_results``
  (recompute each score-card's category scores from the stored latest
  runs and append a timestamped snapshot, the history the score-drop
  notifications diff against).

Everything here reads METADATA-plane store tables (one row per column /
finding / test result), so every join is broadcast-sized; no source-data
rescan happens — that is the whole point of these verbs.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# rollup_scores and attach_test_prevalence resolve at call time, through
# the module attributes
from dataops_testgen_spark import scoring

SCORE_HISTORY_SCHEMA = T.StructType(
    [T.StructField(n, T.StringType())
     for n in ("refresh_time", "kind", "run_id", "group_key")]
    + [T.StructField(n, T.DoubleType())
       for n in ("dq_affected_data_points", "dq_total_data_points",
                 "dq_score")])
SCORE_CARD_SCHEMA = T.StructType(
    [T.StructField(n, T.StringType())
     for n in ("refresh_time", "card", "category", "label")]
    + [T.StructField("score", T.DoubleType())])


def latest_profile_run(store, table_group_id: str | None = None) -> str | None:
    """Most recent Complete profiling run (optionally per table group) —
    ``table_groups.last_complete_profile_run_id`` in the reference."""
    runs = store.read("profiling_runs")
    if table_group_id:
        runs = runs.filter(F.col("table_groups_id") == table_group_id)
    row = (runs.filter(F.col("status") == "Complete")
           .orderBy(F.col("start_time").desc()).take(1))
    return row[0]["profile_run_id"] if row else None


def latest_test_run(store, test_suite_key: str | None = None) -> str | None:
    runs = store.read("test_runs")
    if test_suite_key:
        runs = runs.filter(F.col("test_suite_key") == test_suite_key)
    row = (runs.filter(F.col("status") == "Complete")
           .orderBy(F.col("test_starttime").desc()).take(1))
    return row[0]["test_run_id"] if row else None


def _run_rows(store, table: str, key: str, run_id: str) -> DataFrame:
    return store.read(table).filter(F.col(key) == run_id)


def _test_detail(store, test_run_id: str,
                 profile_run_id: str | None) -> DataFrame:
    """The stored test run's results with their prevalence re-derived from
    the stored measures and the profile run's tokens."""
    profile = (None if profile_run_id is None else
               _run_rows(store, "profile_results", "profile_run_id",
                         profile_run_id))
    return scoring.rollup.prevalence_detail(
        _run_rows(store, "test_results", "test_run_id", test_run_id),
        profile)


def _history_rows(scores: DataFrame, kind: str, run_id: str,
                  group: str) -> DataFrame:
    return scores.select(
        F.lit(dt.datetime.now().isoformat()).alias("refresh_time"),
        F.lit(kind).alias("kind"), F.lit(run_id).alias("run_id"),
        F.lit(group).alias("group_key"),
        F.col("dq_affected_data_points").cast("double"),
        F.col("dq_total_data_points").cast("double"), "dq_score")


def rollup_profile_scores(store, profile_run_id: str | None = None,
                          table_group_id: str | None = None,
                          record: bool = True) -> DataFrame:
    """Re-roll one stored profiling run's DQ score from its persisted
    anomalies (prevalences were stored with the run; record counts come
    from the run's own profile rows). Appends a ``score_history`` row
    unless ``record=False``."""
    run_id = profile_run_id or latest_profile_run(store, table_group_id)
    if run_id is None:
        raise ValueError("no Complete profiling run in the store")
    profile = _run_rows(store, "profile_results", "profile_run_id", run_id)
    detail = (_run_rows(store, "profile_anomaly_results", "profile_run_id",
                        run_id)
              .join(profile.select("table_name", "column_name", "record_ct"),
                    ["table_name", "column_name"], "left")
              .filter(F.col("record_ct").isNotNull()))
    hdr = _run_rows(store, "profiling_runs", "profile_run_id", run_id).take(1)
    out = _history_rows(scoring.rollup_scores(detail), "profile", run_id,
                        hdr[0]["table_groups_id"] if hdr else "")
    if record:
        store.append("score_history", out)
    return out


def rollup_test_scores(store, test_run_id: str | None = None,
                       test_suite_key: str | None = None,
                       profile_run_id: str | None = None,
                       record: bool = True) -> DataFrame:
    """Re-roll one stored test run's DQ score. Prevalence formulas need the
    profiling tokens ({PRO_RECORD_CT}, {VALUE_CT}, ...), so the latest
    stored profile run (or ``profile_run_id``) supplies the lookup —
    exactly the app-DB join the reference's
    ``calc_prevalence_test_results.sql`` performs."""
    run_id = test_run_id or latest_test_run(store, test_suite_key)
    if run_id is None:
        raise ValueError("no Complete test run in the store")
    detail = _test_detail(store, run_id,
                          profile_run_id or latest_profile_run(store))
    hdr = _run_rows(store, "test_runs", "test_run_id", run_id).take(1)
    out = _history_rows(scoring.rollup_scores(detail), "test", run_id,
                        hdr[0]["test_suite_key"] if hdr else "")
    if record:
        store.append("score_history", out)
    return out


def recalculate_project_scores(store) -> DataFrame:
    """Reference ``run_recalculate_project_scores``: for every table group
    with a Complete profile run, re-roll its latest run; for every test
    suite with a Complete test run, re-roll its latest run; then refresh
    the score cards. Returns the appended score_history rows."""
    outs = []
    groups = [r["table_groups_id"] for r in store.read("profiling_runs")
              .select("table_groups_id").distinct().collect()]
    for g in sorted(groups):
        rid = latest_profile_run(store, g)
        if rid is not None:
            outs.append(rollup_profile_scores(store, rid))
    suites = [r["test_suite_key"] for r in store.read("test_runs")
              .select("test_suite_key").distinct().collect()]
    for s in sorted(suites):
        rid = latest_test_run(store, s)
        if rid is not None:
            outs.append(rollup_test_scores(store, rid))
    if not outs:
        raise ValueError("store has no Complete runs to recalculate")
    refresh_score_cards(store)
    acc = outs[0]
    for o in outs[1:]:
        acc = acc.unionByName(o)
    return acc


def refresh_score_cards(store, profile_run_id: str | None = None,
                        test_run_id: str | None = None,
                        record: bool = True) -> DataFrame:
    """Reference ``run_refresh_score_cards_results``: recompute each score
    card's per-category scores from the stored latest runs and append a
    timestamped snapshot to ``score_cards`` — the history entries that
    score-drop notifications diff (notifications.py). Categories mirror
    the reference's SCORE_CATEGORIES: dq_dimension and table_name over
    the column scoring views."""
    from dataops_testgen_spark.scoring.score_cards import (
        category_scores, profile_scoring_by_column,
        profile_scoring_by_dimension, test_scoring_by_column,
        test_scoring_by_dimension)

    prof_run = profile_run_id or latest_profile_run(store)
    test_run = test_run_id or latest_test_run(store)
    prof_col = prof_dim = None
    if prof_run is not None:
        profile = _run_rows(store, "profile_results", "profile_run_id",
                            prof_run)
        anomalies = _run_rows(store, "profile_anomaly_results",
                              "profile_run_id", prof_run)
        prof_col = profile_scoring_by_column(profile, anomalies)
        prof_dim = profile_scoring_by_dimension(profile, anomalies)
    test_col = test_dim = None
    if test_run is not None:
        detail = _test_detail(store, test_run, prof_run).withColumnRenamed(
            "record_ct", "dq_record_ct")
        test_col = test_scoring_by_column(detail)
        test_dim = test_scoring_by_dimension(detail)
    if prof_col is None and test_col is None:
        raise ValueError("store has no runs to build score cards from")

    stamp = dt.datetime.now().isoformat()
    snaps = []
    by_dim = category_scores(prof_dim, test_dim, "dq_dimension")
    snaps.append(by_dim.select(
        F.lit(stamp).alias("refresh_time"), F.lit("project").alias("card"),
        F.lit("dq_dimension").alias("category"), "label",
        F.col("score").cast("double")))
    by_table = category_scores(prof_col, test_col, "table_name")
    snaps.append(by_table.select(
        F.lit(stamp).alias("refresh_time"), F.lit("project").alias("card"),
        F.lit("table_name").alias("category"), "label",
        F.col("score").cast("double")))
    out = snaps[0].unionByName(snaps[1])
    if record:
        store.append("score_cards", out)
    return out
