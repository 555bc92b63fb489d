"""CLI over the engine — mirrors the reference's command surface
(`/root/reference/testgen/__main__.py:238-1006`) against parquet data
directories, with the app DB replaced by a parquet RunStore (store.py).

Run commands (ref run-profile/run-test-generation/run-tests/run-monitors):
  run-profile            profile + infer every table in --data-dir
                         (--incremental: fold a --subset-condition
                         slice into the stored profile, no rescan)
  run-anomalies          hygiene screen + scores over a fresh profile
  run-test-generation    selection-criteria test generation
  run-monitor-generation monitor-set generation (Volume/Freshness monitors)
  run-tests              full loop: profile -> generate -> execute -> score
  run-monitors           one-shot or cron-looped monitor cycle
  quick-start            write the demo star schema (seeded flaws) to a dir

Entity commands (ref list-*/get-* over the app DB — here over --store):
  list-profiles, get-profile, get-profile-anomalies, diff-profiles,
  list-test-generation,
  list-tests, list-test-runs, get-test-results, list-test-types,
  list-test-suites, list-table-groups, list-projects

Exchange commands:
  export-tests / import-tests    test-definition documents (export_import.py)
  export-observability           test results -> observability event JSONL
  export-test-metadata           test-type registry -> yaml files

Out of scope by design (SURVEY §4): run-app/standalone-setup/setup-system-db/
upgrade-system-version (web-serving + Postgres DDL) and exec-job (internal).
"""

from __future__ import annotations

import argparse
import csv as _csv
import datetime as dt
import glob
import json
import os
import sys


def _load_tables(spark, data_dir: str, bucket_dir: str = "") -> dict:
    """Data-dir tables; with ``bucket_dir`` (prepare-bucketed output) each
    table reads from its bucketed catalog variant when one exists, so
    downstream joins/groupBys on the bucket keys plan Exchange-free."""
    from dataops_testgen_spark.io.loaders import load_table

    bucketed = {}
    if bucket_dir:
        from dataops_testgen_spark.io.bucketing import register_bucketed
        bucketed = register_bucketed(spark, bucket_dir)
    tables = {}
    for path in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
        name = os.path.splitext(os.path.basename(path))[0]
        if name in bucketed:
            tables[name] = spark.table(bucketed[name])
        else:
            tables[name] = load_table(spark, data_dir, name)
    return tables


def _profile_all(spark, tables, run_date, approx=False, sample=False,
                 store=None):
    """The inferred profile of ``tables`` as driver-local rows (the
    screen's class branches and eligibility collects reuse them without
    re-running the inference cascade). With a ``store``, a stored run of
    the same inputs and options (``profiling_runs.input_key``) is read
    instead of profiling again."""
    from dataops_testgen_spark.inference import apply_inference
    from dataops_testgen_spark.profiling.profiler import profile_tables
    from dataops_testgen_spark.store import profile_input_key

    if store is not None:
        key = profile_input_key(tables, run_date, approx=approx,
                                sample=sample)
        stored = store.stored_profile(key) if key else None
        if stored is not None:
            return stored
    return apply_inference(profile_tables(tables, run_date=run_date,
                                          approx=approx, sample=sample))


def _record_profile(spark, args, tables, inferred, anomalies) -> None:
    """run-profile / run-anomalies --store: record the run, keyed by its
    inputs unless it is an --incremental merged profile."""
    from dataops_testgen_spark.store import profile_input_key

    key = None if getattr(args, "incremental", False) else profile_input_key(
        tables, args.run_date, approx=args.approx, sample=args.sample)
    run_id = _store(spark, args).record_profile_run(
        inferred, anomalies, table_group_id=args.table_group or "default",
        run_date=args.run_date, input_key=key)
    print(f"profile_run_id: {run_id}")


def _profile_incremental(spark, tables, args):
    """run-profile --incremental: profile only the NEW slice (the
    --subset-condition predicate — typically a partition filter) with
    mergeable sketches, fold it into the latest stored profile of the
    same table group (profiling/merge.py), and return inference over the
    MERGED profile — the 100 TB never-rescan-history path. The merged
    profile is stored with its merged sketch carriers, so the next
    increment folds again (round-trip pinned by
    test_merge_profiles_refold). A first run against an empty store just
    establishes the sketch-kept baseline. No reference counterpart: the
    reference re-profiles whole tables per run (run_profiling.py)."""
    from pyspark.sql import functions as F

    from dataops_testgen_spark.inference import apply_inference
    from dataops_testgen_spark.profiling.merge import merge_profiles
    from dataops_testgen_spark.profiling.profiler import (PROFILE_SCHEMA,
                                                          profile_tables)

    if args.subset_condition:
        tables = {n: t.filter(args.subset_condition)
                  for n, t in tables.items()}
    prof = profile_tables(tables, run_date=args.run_date, approx=args.approx,
                          keep_sketches=True, secondary=False)
    latest = []
    if args.store:
        store = _store(spark, args)
        latest = (store.read("profiling_runs").filter(
            F.col("table_groups_id") == (args.table_group or "default"))
            .orderBy(F.col("start_time").desc()).limit(1).collect())
    if latest:
        # a store written before a carrier column existed reads that
        # carrier as NULL (the affected metrics degrade to NULL)
        cols = PROFILE_SCHEMA.fieldNames()
        prev = store.read("profile_results").filter(
            F.col("profile_run_id") == latest[0]["profile_run_id"])
        prof = merge_profiles(
            prev.select(*cols).unionByName(prof.select(*cols)))
    return apply_inference(prof)


def _write(df, out_dir: str, name: str) -> None:
    if out_dir:
        df.write.mode("overwrite").parquet(os.path.join(out_dir, name))
    df.show(20, truncate=False)


def _emit(df, args, csv_name: str) -> None:
    """Reference display_service semantics: always write `<command>.csv`,
    print the table only with -d/--display (ref display_service.to_csv +
    print_table)."""
    rows = df.collect()
    cols = df.columns
    path = os.path.join(args.csv_dir or ".", csv_name)
    with open(path, "w", newline="") as fh:
        w = _csv.writer(fh)
        w.writerow(cols)
        for r in rows:
            w.writerow([r[c] for c in cols])
    if args.display:
        df.show(100, truncate=False)
    print(f"{len(rows)} row(s) -> {path}")


def _store(spark, args):
    from dataops_testgen_spark.store import RunStore

    return RunStore(spark, args.store, project_key=args.project_key,
                    bucket_results=getattr(args, "bucket_store", 0) or None)


def _spark():
    from dataops_testgen_spark.session import get_spark

    return get_spark("dataops-testgen-cli")


# ---------------------------------------------------------------------------
# run commands

def cmd_run_profile(args) -> int:
    spark = _spark()
    tables = _load_tables(spark, args.data_dir)
    if getattr(args, "incremental", False):
        if args.sample:
            print("error: --incremental cannot be combined with --sample "
                  "(scaled estimates of disjoint slices do not add)",
                  file=sys.stderr)
            return 2
        inferred = _profile_incremental(spark, tables, args)
    else:
        inferred = _profile_all(spark, tables, args.run_date,
                                approx=args.approx, sample=args.sample)
    anomalies = None
    if args.store or args.notify_out:
        from dataops_testgen_spark.anomalies import screen_anomalies

        # screened once and checkpointed: the Correlation/Dependence
        # classes re-scan raw data per evaluation, so feeding the same
        # relation to both the store write and the notification event
        # would otherwise double that cost
        anomalies = screen_anomalies(
            inferred, tables=tables,
            spearman=getattr(args, "spearman", False),
        ).localCheckpoint(eager=False)
    if args.store:
        _record_profile(spark, args, tables, inferred, anomalies)
    if args.notify_out:
        from dataops_testgen_spark.notifications import (
            build_profiling_run_event)

        event = build_profiling_run_event(
            anomalies, table_group=args.table_group or "default")
        with open(args.notify_out, "a") as fh:
            fh.write(json.dumps(event) + "\n")
        print(f"notifications: 1 event -> {args.notify_out}")
    _write(inferred, args.out, "profile_results")
    return 0


def cmd_run_anomalies(args) -> int:
    from dataops_testgen_spark.anomalies import screen_anomalies
    from dataops_testgen_spark.scoring import rollup_scores

    spark = _spark()
    tables = _load_tables(spark, args.data_dir)
    inferred = _profile_all(spark, tables, args.run_date,
                            approx=args.approx, sample=args.sample)
    # tables= runs the Correlation class (Correlated_Columns, 34th rule)
    # alongside the profile-driven classes — one fused agg per table;
    # checkpointed because up to four consumers follow (store write,
    # notify event, --out write, rollup join) and each would otherwise
    # re-run the raw-table correlation/dependence/spearman scans
    anomalies = screen_anomalies(
        inferred, tables=tables,
        spearman=getattr(args, "spearman", False),
    ).localCheckpoint(eager=False)
    if args.store:
        _record_profile(spark, args, tables, inferred, anomalies)
    if args.notify_out:
        from dataops_testgen_spark.notifications import (
            build_profiling_run_event)

        event = build_profiling_run_event(
            anomalies, table_group=args.table_group or "default")
        with open(args.notify_out, "a") as fh:
            fh.write(json.dumps(event) + "\n")
        print(f"notifications: 1 event -> {args.notify_out}")
    _write(anomalies, args.out, "profile_anomaly_results")
    detail = anomalies.join(
        inferred.select("table_name", "column_name", "record_ct"),
        ["table_name", "column_name"], "left")
    _write(rollup_scores(detail.filter("record_ct IS NOT NULL")),
           args.out, "profile_scores")
    return 0


def _generate(inferred, args):
    from dataops_testgen_spark.generation import generate_selection_tests

    return generate_selection_tests(
        inferred,
        test_types=({t.strip() for t in args.test_types.split(",")
                     if t.strip()} or None),
        table_names=({t.strip() for t in args.tables.split(",")
                      if t.strip()} or None))


def cmd_run_test_generation(args) -> int:
    spark = _spark()
    tables = _load_tables(spark, args.data_dir)
    store = _store(spark, args) if args.store else None
    inferred = _profile_all(spark, tables, args.run_date, store=store)
    gen = _generate(inferred, args)
    if store is not None:
        store.record_test_generation(
            gen, test_suite_key=args.test_suite, run_date=args.run_date)
        print(f"test_suite_key: {args.test_suite}")
    _write(gen, args.out, "test_definitions")
    return 0


def cmd_run_monitor_generation(args) -> int:
    """Monitor-set generation (ref run-monitor-generation,
    `__main__.py:297` — the 'Monitor' generation set: Volume_Trend /
    Table_Freshness / Freshness_Trend table monitors)."""
    from dataops_testgen_spark.generation.templates import (
        generate_freshness_trend_tests, generate_table_tests)

    spark = _spark()
    tables = _load_tables(spark, args.data_dir)
    store = _store(spark, args) if args.store else None
    inferred = _profile_all(spark, tables, args.run_date, store=store)
    mon = generate_table_tests(inferred).unionByName(
        generate_freshness_trend_tests(inferred), allowMissingColumns=True)
    if store is not None:
        store.record_test_generation(
            mon, test_suite_key=args.test_suite + "_monitors",
            run_date=args.run_date)
        print(f"test_suite_key: {args.test_suite}_monitors")
    _write(mon, args.out, "monitor_definitions")
    return 0


def cmd_run_tests(args) -> int:
    from dataops_testgen_spark.execution.cat import (RESULT_SCHEMA,
                                                     run_cat_tests)
    from dataops_testgen_spark.execution.query_runner import (QUERY_TYPES,
                                                              run_query_tests)
    from dataops_testgen_spark.execution.validation import validate_tests
    from dataops_testgen_spark.generation.selection import to_test_defs
    from dataops_testgen_spark.scoring import rollup_scores
    from dataops_testgen_spark.scoring.rollup import prevalence_detail
    from dataops_testgen_spark.session import local_frame

    from pyspark.sql import functions as F

    spark = _spark()
    tables = _load_tables(spark, args.data_dir,
                          bucket_dir=getattr(args, "bucketed", ""))
    store = _store(spark, args) if args.store else None
    inferred = _profile_all(spark, tables, args.run_date, store=store)
    # Reference flow: run-tests executes the suite's STORED definitions
    # (generation is its own command, and manual edits/locks must survive).
    # With a store + an existing suite we do the same; standalone (no
    # store) or --regenerate falls back to generate-then-run.
    gen = None
    if store is not None and not args.regenerate:
        mine = store.read("test_definitions").filter(
            F.col("test_suite_key") == args.test_suite)
        latest = mine.agg(F.max("last_auto_gen_date")).first()[0]
        if latest is not None:
            gen = (mine.filter(F.col("last_auto_gen_date") == latest)
                   .drop("test_suite_key", "last_auto_gen_date",
                         "profiling_as_of_date"))
            print(f"executing stored suite {args.test_suite} "
                  f"(generated {latest})")
    freshly_generated = gen is None
    if freshly_generated:
        gen = _generate(inferred, args)
    elif not getattr(args, "no_fk_sync", False):
        # reference parity (run_test_execution.py:172-204 — monitor defs
        # are regenerated/pruned on every execution run): re-verify the
        # suite's FK-DISCOVERED referential monitors against the current
        # data; a vanished inclusion dependency deactivates its
        # Combo_Match instead of failing forever, a new one joins the
        # suite. Manually-authored defs are never touched (provenance
        # param gate).
        from dataops_testgen_spark.inference.fk_discovery import (
            sync_fk_monitors)

        gen, fk_changes = sync_fk_monitors(tables, inferred, gen,
                                           run_date=args.run_date)
        if fk_changes["deactivated"] or fk_changes["added"]:
            gen = gen.localCheckpoint(eager=False)   # consumed 2x below
            print(f"fk monitor sync: {fk_changes['deactivated']} "
                  f"deactivated, {fk_changes['added']} added")
            store.record_test_generation(gen, test_suite_key=args.test_suite,
                                         run_date=args.run_date)
    active = gen
    if "test_active" in gen.columns:
        active = gen.filter(F.coalesce(F.col("test_active") != "N",
                                       F.lit(True)))
    defs = to_test_defs(active)
    # validation pre-pass (run_test_validation.py semantics): tests whose
    # table/column no longer exists become Error rows and don't execute
    outcome = validate_tests(tables, defs)
    if outcome.errors:
        print(f"validation: {len(outcome.errors)} test(s) reference missing "
              "tables/columns — deactivated with Error results")
    # reference parity: one run executes BOTH engines — the fused CAT agg
    # batch and the per-test QUERY pipelines (referential/dupe/timeframe)
    cat_defs = [t for t in outcome.valid if t.test_type not in QUERY_TYPES]
    query_defs = [t for t in outcome.valid if t.test_type in QUERY_TYPES]
    results = run_cat_tests(tables, cat_defs, run_date=args.run_date)
    struct_keys = None
    if getattr(args, "bucketed", ""):
        from dataops_testgen_spark.io.bucketing import struct_key_map
        struct_keys = struct_key_map(args.bucketed) or None
    qres = run_query_tests(tables, query_defs, run_date=args.run_date,
                           struct_keys=struct_keys)
    if qres is not None:
        results = results.unionByName(qres)
    if outcome.errors:
        err_rows = [tuple(e.get(f.name) for f in RESULT_SCHEMA.fields)
                    for e in outcome.errors]
        results = results.unionByName(
            local_frame(spark, err_rows, RESULT_SCHEMA))
    previous = None
    if store is not None and args.notify_out:
        # the previous run's results feed only the notification events
        prev_runs = store.list_test_runs(args.test_suite).take(1)
        if prev_runs:
            previous = store.read("test_results").filter(
                F.col("test_run_id") == prev_runs[0]["test_run_id"])
    if store is not None:
        if freshly_generated:
            store.record_test_generation(gen,
                                         test_suite_key=args.test_suite,
                                         run_date=args.run_date)
        run_id = store.record_test_run(results,
                                       test_suite_key=args.test_suite,
                                       run_date=args.run_date)
        print(f"test_run_id: {run_id}")
    if args.notify_out:
        from dataops_testgen_spark.notifications import (
            NotificationSetting, build_test_run_events, post_events)

        settings = [NotificationSetting(["cli"], t)
                    for t in args.notify_trigger.split(",") if t]
        events = build_test_run_events(results, settings,
                                       previous=previous,
                                       suite_key=args.test_suite)
        with open(args.notify_out, "a") as fh:
            n = post_events(events,
                            lambda e: fh.write(json.dumps(e) + "\n"))
        print(f"notifications: {n} event(s) -> {args.notify_out}")
    _write(results, args.out, "test_results")

    detail = prevalence_detail(results, inferred)
    codes = [r["result_code"] for r in detail.collect()]
    print(f"tests: {len(codes)}, failed: {codes.count(0)}")
    _write(rollup_scores(detail), args.out, "test_scores")
    return 0


def cmd_prepare_bucketed(args) -> int:
    """One-time physical design for every-cycle referential tests: write
    the data tables as external bucketed catalog tables keyed on their
    join/group columns (io/bucketing.py DEFAULT_BUCKET_KEYS). Later
    ``run-tests --bucketed <dir>`` reads them with compatible
    HashPartitioning on both sides, so the referential joins and groupBys
    plan with ZERO shuffle Exchange. No reference counterpart: this is
    the lakehouse-native equivalent of the app-DB's B-tree indexes."""
    from dataops_testgen_spark.io.bucketing import bucketize_data_dir

    spark = _spark()
    out = bucketize_data_dir(spark, args.data_dir, args.bucket_dir,
                             num_buckets=args.buckets,
                             null_safe_keys=args.null_safe_keys)
    for t, name in out.items():
        print(f"{t} -> {name}")
    print(f"{len(out)} table(s) bucketed -> {args.bucket_dir}")
    return 0


def cmd_run_monitors(args) -> int:
    """Monitor test types (Volume_Trend fingerprint-style volume +
    Table_Freshness MD5) over every table — one-shot, or looped on a cron
    schedule (ref scheduler/base.py:1-120; monitors are the 'Monitor'
    generation set in 050_populate_new_schema_metadata.sql:55-58).

    With --store, each cycle is recorded as a test run under
    '<suite>_monitors', and once the stored history reaches the
    forecaster's training minimum, Volume_Trend is EVALUATED against
    ARIMA-predicted tolerances (ref threshold prediction,
    run_test_execution's PREDICT path) instead of just logged;
    Table_Freshness compares the fingerprint to the previous cycle."""
    from pyspark.sql import functions as F

    from dataops_testgen_spark.execution.query_tests import table_fingerprint

    spark = _spark()
    tables = _load_tables(spark, args.data_dir)
    store = _store(spark, args) if args.store else None
    mon_suite = args.test_suite + "_monitors"

    def _histories() -> dict:
        """test_id -> past monitor result rows, oldest first; read once
        per cycle."""
        if store is None:
            return {}
        rows = (store.read("test_results")
                .filter(F.col("test_suite_key") == mon_suite)
                .join(store.read("test_runs")
                      .select("test_run_id", "test_starttime"),
                      "test_run_id")
                .select("test_id", "test_starttime", "result_measure",
                        "result_message")
                .orderBy("test_starttime").collect())
        out: dict = {}
        for r in rows:
            out.setdefault(r["test_id"], []).append(r)
        return out

    def _volume_result(history, n):
        pairs = [(r["test_starttime"], r["result_measure"]) for r in history
                 if r["result_measure"] is not None]
        if len(pairs) >= 20:     # forecast.MIN_TRAIN_VALUES
            import pandas as pd

            from dataops_testgen_spark.prediction.forecast import (
                predict_tolerances)

            hist = pd.DataFrame(
                {"value": [v for _, v in pairs]},
                index=pd.DatetimeIndex([pd.Timestamp(t)
                                        for t, _ in pairs]))
            lower, upper = predict_tolerances(hist)
            if lower is not None:
                ok = lower <= n <= upper
                return {"result_status": "Passed" if ok else "Failed",
                        "result_code": 1 if ok else 0,
                        "threshold_value": f"{lower:.2f}..{upper:.2f}"}
        return {"result_status": "Log", "result_code": None,
                "threshold_value": None}

    def one_cycle() -> list[dict]:
        results = []
        histories = _histories()
        for name, df in tables.items():
            n = df.count()
            fp_cols = df.columns[: min(4, len(df.columns))]
            fp = table_fingerprint(
                df, [F.count(F.lit(1))]
                + [F.max(c).cast("string") for c in fp_cols])
            vol = _volume_result(histories.get(f"mon_volume_{name}", []), n)
            results.append({"test_id": f"mon_volume_{name}",
                            "test_type": "Volume_Trend", "table_name": name,
                            "column_name": None,
                            "result_status": vol["result_status"],
                            "result_code": vol["result_code"],
                            "result_message": None,
                            "result_measure": float(n),
                            "threshold_value": vol["threshold_value"]})
            fresh = histories.get(f"mon_freshness_{name}")
            prev_fp = fresh[-1]["result_message"] if fresh else None
            changed = (None if prev_fp is None
                       else ("Change detected" if fp != prev_fp
                             else "No change"))
            results.append({"test_id": f"mon_freshness_{name}",
                            "test_type": "Table_Freshness",
                            "table_name": name,
                            "column_name": None, "result_status": "Log",
                            "result_code": None,
                            "result_message": fp,
                            "result_measure": (None if changed is None else
                                               float(changed ==
                                                     "Change detected")),
                            "threshold_value": None})
        print(f"monitors: {len(results)} results over {len(tables)} tables")
        if store is not None:
            rows = [(r["test_id"], r["test_type"], r["table_name"],
                     r["column_name"], r["result_status"], r["result_code"],
                     r["result_message"], r["result_measure"],
                     r["threshold_value"]) for r in results]
            rdf = spark.createDataFrame(
                rows, "test_id string, test_type string, table_name "
                "string, column_name string, result_status string, "
                "result_code int, result_message string, result_measure "
                "double, threshold_value string")
            run_id = store.record_test_run(rdf, test_suite_key=mon_suite,
                                           run_date=args.run_date)
            print(f"monitor test_run_id: {run_id}")
        if args.observability_out:
            from dataops_testgen_spark.observability import (
                build_event_payload, post_event)

            with open(args.observability_out, "a") as fh:
                post_event(build_event_payload("monitors", "monitors"),
                           results,
                           lambda body: fh.write(json.dumps(body) + "\n"))
        return results

    if not args.schedule:
        one_cycle()
        return 0

    import itertools
    import time as _time

    from dataops_testgen_spark.scheduler import Cron

    cron = Cron(args.schedule)
    cycles = (itertools.count() if not args.max_cycles
              else range(args.max_cycles))
    for _ in cycles:
        now = dt.datetime.now()
        nxt = cron.next_after(now)
        wait = (nxt - now).total_seconds()
        print(f"next monitor cycle at {nxt.isoformat()} (+{wait:.0f}s)")
        _time.sleep(max(0.0, wait))
        one_cycle()
    return 0


def cmd_quick_start(args) -> int:
    """Write the demo star schema with seeded quality flaws (ref
    quick-start, `__main__.py:519` + template/quick_start/)."""
    from dataops_testgen_spark.fixtures.quickstart import (
        build_quickstart_tables)

    spark = _spark()
    os.makedirs(args.data_dir, exist_ok=True)
    tables = build_quickstart_tables(spark)
    for name, df in tables.items():
        # repartition, not coalesce: coalescing a createDataFrame local
        # relation makes one task run every pickled slice through
        # sequential Python-worker round-trips (~5 s/table on local[32])
        df.repartition(1).write.mode("overwrite").parquet(
            os.path.join(args.data_dir, f"{name}.parquet"))
        print(f"wrote {name}.parquet ({df.count()} rows)")
    print(f"quick-start data in {args.data_dir}; next: run-profile "
          f"--data-dir {args.data_dir}")
    return 0


# ---------------------------------------------------------------------------
# scoring refresh commands (ref run_rollup_scores.py /
# run_recalculate_project_scores.py / run_refresh_score_cards_results.py)

def cmd_run_rollup_scores(args) -> int:
    """Re-roll one stored run's DQ score from the store alone — no source
    rescan (ref run_rollup_scores.py:9-21)."""
    from dataops_testgen_spark.scoring.refresh import (rollup_profile_scores,
                                                       rollup_test_scores)

    spark = _spark()
    store = _store(spark, args)
    if args.test_run_id or args.kind == "test":
        out = rollup_test_scores(store, test_run_id=args.test_run_id or None,
                                 test_suite_key=args.test_suite)
        _emit(out, args, "rollup_test_scores.csv")
    else:
        out = rollup_profile_scores(
            store, profile_run_id=args.profile_run_id or None,
            table_group_id=args.table_group or None)
        _emit(out, args, "rollup_profile_scores.csv")
    return 0


def cmd_recalculate_scores(args) -> int:
    """Re-roll the latest Complete run of every table group and test suite,
    then refresh score cards (ref run_recalculate_project_scores.py:22-58
    — run after weighting/config changes so stored scores reflect them
    without new runs)."""
    from dataops_testgen_spark.scoring.refresh import (
        recalculate_project_scores)

    spark = _spark()
    out = recalculate_project_scores(_store(spark, args))
    _emit(out, args, "recalculate_scores.csv")
    return 0


def cmd_refresh_score_cards(args) -> int:
    """Recompute score-card category scores from the stored latest runs and
    append a timestamped snapshot (ref
    run_refresh_score_cards_results.py:20-60; the snapshot history is what
    score-drop notifications diff)."""
    from dataops_testgen_spark.scoring.refresh import refresh_score_cards

    spark = _spark()
    out = refresh_score_cards(
        _store(spark, args),
        profile_run_id=args.profile_run_id or None,
        test_run_id=args.test_run_id or None)
    _emit(out, args, "score_cards.csv")
    return 0


# ---------------------------------------------------------------------------
# entity commands (RunStore-backed)

def cmd_list_profiles(args) -> int:
    spark = _spark()
    _emit(_store(spark, args).list_profiles(args.table_group or None),
          args, "list_profiles.csv")
    return 0


def cmd_get_profile(args) -> int:
    spark = _spark()
    _emit(_store(spark, args).profile_info(args.profile_run_id,
                                           args.table_name or None),
          args, "get_profile.csv")
    return 0


def cmd_diff_profiles(args) -> int:
    spark = _spark()
    _emit(_store(spark, args).diff_profiles(
        args.run_a or None, args.run_b or None,
        table_group_id=args.table_group or None),
        args, "diff_profiles.csv")
    return 0


def cmd_get_profile_anomalies(args) -> int:
    spark = _spark()
    _emit(_store(spark, args).profile_anomalies(args.profile_run_id,
                                                args.table_name or None),
          args, "get_profile_anomalies.csv")
    return 0


def cmd_list_test_generation(args) -> int:
    spark = _spark()
    _emit(_store(spark, args).list_test_generation(args.test_suite),
          args, "list_test_generation.csv")
    return 0


def cmd_list_tests(args) -> int:
    spark = _spark()
    _emit(_store(spark, args).test_info(args.test_suite),
          args, "list_tests.csv")
    return 0


def cmd_list_test_runs(args) -> int:
    spark = _spark()
    _emit(_store(spark, args).list_test_runs(args.test_suite),
          args, "list_test_runs.csv")
    return 0


def cmd_get_test_results(args) -> int:
    spark = _spark()
    _emit(_store(spark, args).test_results_for_run(args.test_run_id,
                                                   args.fails_only),
          args, "get_test_results.csv")
    return 0


def cmd_list_test_types(args) -> int:
    from dataops_testgen_spark.execution.test_types import list_test_types

    spark = _spark()
    df = spark.createDataFrame(
        list_test_types(),
        "test_type string, test_description string, dq_dimension string")
    _emit(df, args, "list_test_types.csv")
    return 0


def cmd_list_test_suites(args) -> int:
    spark = _spark()
    _emit(_store(spark, args).list_test_suites(), args,
          "list_test_suites.csv")
    return 0


def cmd_list_table_groups(args) -> int:
    spark = _spark()
    _emit(_store(spark, args).list_table_groups(), args,
          "list_table_groups.csv")
    return 0


def cmd_list_projects(args) -> int:
    spark = _spark()
    meta_path = os.path.join(args.store, "project.json")
    rows = []
    if os.path.exists(meta_path):
        with open(meta_path) as fh:
            meta = json.load(fh)
        rows = [(meta.get("project_key", "DEFAULT"),
                 meta.get("created", ""))]
    df = spark.createDataFrame(rows, "project_key string, created string")
    _emit(df, args, "list_projects.csv")
    return 0


# ---------------------------------------------------------------------------
# exchange commands

def cmd_export_tests(args) -> int:
    from dataops_testgen_spark.generation import export_import as EI
    from dataops_testgen_spark.generation import generate_selection_tests

    spark = _spark()
    tables = _load_tables(spark, args.data_dir)
    if args.defs:
        defs = spark.read.parquet(args.defs)
    else:
        inferred = _profile_all(spark, tables, args.run_date)
        defs = generate_selection_tests(inferred)
    doc, _updated = EI.export_definitions(
        defs, {"data_dir": args.data_dir, "run_date": args.run_date})
    out_path = args.doc or "test_definitions_export.json"
    with open(out_path, "w") as fh:
        json.dump(doc, fh, indent=1, default=str)
    print(f"exported {len(doc['definitions'])} definitions -> {out_path}")
    return 0


def cmd_import_tests(args) -> int:
    from dataops_testgen_spark.generation import export_import as EI

    spark = _spark()
    tables = _load_tables(spark, args.data_dir)
    existing = spark.read.parquet(args.defs) if args.defs else None
    with open(args.doc) as fh:
        payload = json.load(fh)
    res = EI.import_definitions(
        spark, existing, payload,
        EI.ImportConfig(mode=args.mode, on_match=args.on_match,
                        on_new=args.on_new, on_absence=args.on_absence),
        profiled_tables=set(tables))
    print(f"import ({args.mode}): {res.summary}")
    for it in res.items:
        if it.action == "skip":
            print(f"  skip[{it.reason}]: {it.test_type} "
                  f"{it.table_name}.{it.column_name}")
    if res.applied and args.out:
        _write(res.result_defs, args.out, "test_definitions")
    return 0 if (res.applied or args.mode == "preview") else 1


def cmd_export_observability(args) -> int:
    """Export a test run's results as observability event payloads
    (ref export-observability, `__main__.py:802` — network send replaced
    by JSONL sink; payload shape + <=500/batch chunking unchanged)."""
    from dataops_testgen_spark.observability import export_test_results

    from pyspark.sql import functions as F

    spark = _spark()
    store = _store(spark, args)
    run_id = args.test_run_id
    if not run_id:
        last = (store.read("test_runs")
                .orderBy(F.col("test_starttime").desc()).first())
        if last is None:
            print("no test_runs in store")
            return 1
        run_id = last["test_run_id"]
    subset = store.read("test_results").filter(
        F.col("test_run_id") == run_id)
    if args.api_url:
        # reference transport: POST each chunk to the Observability API
        # (run_observability_exporter.py wire format via http_sender)
        from dataops_testgen_spark.observability import http_sender

        n = export_test_results(subset, args.test_suite,
                                http_sender(args.api_url, args.api_key))
        print(f"posted {n} outcomes to {args.api_url}")
        return 0
    out_path = args.doc or "observability_events.jsonl"
    batches = []
    export_test_results(subset, args.test_suite,
                        lambda body: batches.append(body))
    with open(out_path, "w") as fh:
        for b in batches:
            fh.write(json.dumps(b, default=str) + "\n")
    n = sum(len(b.get("test_outcomes", [])) for b in batches)
    print(f"exported {n} outcomes in {len(batches)} event batch(es) "
          f"-> {out_path}")
    return 0


def cmd_export_test_metadata(args) -> int:
    """Export the test-type registry to yaml files (ref
    export-test-metadata, `__main__.py:833` — one yaml per test type like
    template/dbsetup_test_types/)."""
    import yaml

    from dataops_testgen_spark.execution.test_types import TEST_TYPES

    os.makedirs(args.path, exist_ok=True)
    for name, m in sorted(TEST_TYPES.items()):
        doc = {"test_types": [{
            "test_type": m.test_type,
            "test_description": m.description,
            "dq_dimension": m.dq_dimension,
            "measure_uom": m.measure_uom,
            "default_severity": m.default_severity,
            "test_scope": m.test_scope,
            "run_type": m.run_type,
        }]}
        with open(os.path.join(args.path,
                               f"test_types_{name}.yaml"), "w") as fh:
            yaml.safe_dump(doc, fh, sort_keys=False)
    print(f"exported {len(TEST_TYPES)} test types -> {args.path}")
    return 0


# ---------------------------------------------------------------------------

def cmd_corpus_curate(args) -> int:
    """One-pass corpus curation gate (pipeline/curation.py): quality
    flags x exact-dup canonicalization x trained NB language filter —
    writes the per-doc decision and prints the keep rate."""
    from pyspark.sql import functions as F

    from dataops_testgen_spark.pipeline.curation import curation_gate

    spark = _spark()
    docs = spark.read.parquet(args.corpus).filter(F.col(args.text_col)
                                                  .isNotNull())
    train = docs.filter(args.train_condition) if args.train_condition \
        else docs.filter(F.col(args.label_col).isNotNull())
    flags = ([f for f in args.quality_flags.split(",") if f]
             if args.quality_flags else None)
    out = curation_gate(docs, train,
                        allowed_langs=args.allowed_langs.split(","),
                        required_flags=flags, text_col=args.text_col,
                        id_col=args.id_col, label_col=args.label_col)
    if args.out:
        out.write.mode("overwrite").parquet(args.out)
    kept = out.filter("keep").count()
    total = out.count()
    print(f"kept {kept}/{total} "
          f"({100.0 * kept / max(total, 1):.1f}%)"
          + (f" -> {args.out}" if args.out else ""))
    return 0


def cmd_corpus_index(args) -> int:
    """Append a corpus increment to the persisted lexical BM25 index
    (retrieval.lexical_index_append); searches then run against all
    indexed history without rescanning text."""
    from dataops_testgen_spark.pipeline.retrieval import (
        lexical_index_append, lexical_index_compact)

    spark = _spark()
    docs = spark.read.parquet(args.corpus)
    if args.condition:
        docs = docs.filter(args.condition)
    lexical_index_append(docs, args.index_dir, text_col=args.text_col,
                         id_col=args.id_col, n_buckets=args.buckets)
    msg = f"indexed {docs.count()} docs -> {args.index_dir}"
    if args.compact:
        n = lexical_index_compact(spark, args.index_dir)
        msg += f" (compacted to {n} postings files)"
    print(msg)
    return 0


def cmd_vector_index(args) -> int:
    """Append an embedding increment to the persisted ANN (IVFADC) index
    (similarity.ann_index_append) — the vector twin of corpus-index. On
    first use the quantizers are trained from the increment
    (train_ivf_centroids + train_pq_codebook) and stored with the index;
    later appends reuse the stored quantizers (immutable per index, the
    invariant increment==one-shot probing depends on). --opq-model
    (vector-opq output) applies on FIRST build only: quantizers train in
    the rotated space and the rotation persists with the index, so
    probes rotate queries automatically; later appends load R from the
    index itself."""
    import posixpath

    import numpy as np

    from dataops_testgen_spark.io.fs import path_exists
    from dataops_testgen_spark.pipeline.similarity import (
        ann_index_append, ann_index_compact, rotate, train_ivf_centroids,
        train_pq_codebook)

    spark = _spark()
    vecs = spark.read.parquet(args.vectors)
    if args.condition:
        vecs = vecs.filter(args.condition)
    cent_path = posixpath.join(args.index_dir, "centroids")
    rotation = None
    if path_exists(spark, cent_path):
        rot_path = posixpath.join(args.index_dir, "rotation")
        if path_exists(spark, rot_path):
            rotation = [list(r["r"]) for r in
                        spark.read.parquet(rot_path).orderBy("i").collect()]
        elif args.opq_model:
            print("--opq-model only applies on first index build; this "
                  "index was built without a rotation", file=sys.stderr)
            return 2
        cents = [list(r["centroid"]) for r in
                 spark.read.parquet(cent_path).orderBy("cell").collect()]
        cb_rows = (spark.read.parquet(
            posixpath.join(args.index_dir, "codebook"))
            .orderBy("s", "c").collect())
        m = cb_rows[-1]["s"] + 1
        kk = cb_rows[-1]["c"] + 1
        codebook = np.array([r["codeword"]
                             for r in cb_rows]).reshape(m, kk, -1)
        trained = ""
    else:
        train = vecs
        tv, ti = args.vec_col, args.id_col
        if args.opq_model:
            rotation = [list(r["r"]) for r in
                        spark.read.parquet(
                            posixpath.join(args.opq_model, "rotation"))
                        .orderBy("i").collect()]
            train = rotate(vecs, rotation, args.vec_col, args.id_col)
            tv, ti = "rotated", "id"
        cents = train_ivf_centroids(train, num_centroids=args.cells,
                                    vec_col=tv, id_col=ti)
        codebook = train_pq_codebook(train, m=args.m, k=args.codewords,
                                     vec_col=tv, id_col=ti)
        trained = (f" (trained {len(cents)} centroids + "
                   f"{args.m}x{args.codewords} codebook"
                   + (", OPQ-rotated" if rotation is not None else "")
                   + ")")
    ann_index_append(vecs, args.index_dir, cents, codebook,
                     vec_col=args.vec_col, id_col=args.id_col,
                     rotation=rotation)
    msg = f"indexed {vecs.count()} vectors -> {args.index_dir}{trained}"
    if args.compact:
        n = ann_index_compact(spark, args.index_dir)
        msg += f" (compacted to {n} code files)"
    print(msg)
    return 0


def cmd_table_benford(args) -> int:
    """Benford first-digit conformity screen over a numeric column
    (anomalies/benford.py): prints the per-digit table and the chi-square
    total; exit 1 when the total exceeds --chi2-max (a gate usable in
    data-quality pipelines), 0 otherwise."""
    from dataops_testgen_spark.anomalies.benford import benford_screen

    spark = _spark()
    df = spark.read.parquet(args.data)
    if args.condition:
        df = df.filter(args.condition)
    rows = sorted(benford_screen(df, args.column).collect(),
                  key=lambda r: r["digit"])
    if sum(r["n"] for r in rows) == 0:
        # no positive finite values: shares/chi2 are all NULL — report
        # cleanly instead of crashing the gate
        print(f"no positive finite values in {args.column}",
              file=sys.stderr)
        return 2
    chi2 = sum(r["chi2_term"] for r in rows)
    print("digit      n  observed  expected")
    for r in rows:
        print(f"{r['digit']:5d} {r['n']:6d}  {r['obs_share']:.5f}"
              f"   {r['exp_share']:.5f}")
    verdict = ""
    if args.chi2_max is not None:
        verdict = ("  (PASS <= " if chi2 <= args.chi2_max
                   else "  (FAIL > ") + f"{args.chi2_max})"
    print(f"chi2 = {chi2:.3f}{verdict}")
    return 0 if args.chi2_max is None or chi2 <= args.chi2_max else 1


def cmd_table_correlation(args) -> int:
    """Numeric-correlation screen over a parquet table
    (anomalies/correlation.py): prints every pair's Pearson r and the
    derived/duplicate-column flag; exit 1 when any pair flags (a
    pipeline gate, like table-benford's chi2 gate), 0 otherwise."""
    from dataops_testgen_spark.anomalies.correlation import (
        correlation_screen)

    spark = _spark()
    df = spark.read.parquet(args.data)
    if args.condition:
        df = df.filter(args.condition)
    cols = args.columns.split(",") if args.columns else None
    try:
        scr = correlation_screen(df, cols=cols,
                                 min_abs_corr=args.min_abs_corr,
                                 min_n=args.min_n, method=args.method)
    except ValueError as e:
        print(str(e), file=sys.stderr)
        return 2
    rows = sorted(scr.collect(), key=lambda r: (r["col_a"], r["col_b"]))
    print("col_a col_b n corr flagged")
    for r in rows:
        c = "NULL" if r["corr"] is None else f"{r['corr']:.5f}"
        print(f"{r['col_a']} {r['col_b']} {r['n']} {c} {r['flagged']}")
    n_flagged = sum(1 for r in rows if r["flagged"])
    print(f"flagged pairs: {n_flagged}")
    return 1 if n_flagged else 0


def cmd_table_dependence(args) -> int:
    """Group-dependence screen over a parquet table
    (anomalies/dependence.py): eta² of each numeric column against each
    categorical; exit 1 when any pair flags (numeric determined by a
    category — a materialized lookup/rate table), 0 otherwise."""
    from dataops_testgen_spark.anomalies.dependence import (
        group_dependence_screen)

    spark = _spark()
    df = spark.read.parquet(args.data)
    if args.condition:
        df = df.filter(args.condition)
    try:
        scr = group_dependence_screen(
            df, args.cat_columns.split(","), args.num_columns.split(","),
            min_eta2=args.min_eta2, min_n=args.min_n,
            max_groups=args.max_groups)
    except ValueError as e:
        print(str(e), file=sys.stderr)
        return 2
    rows = sorted(scr.collect(), key=lambda r: (r["cat_col"], r["num_col"]))
    print("cat_col num_col n n_groups eta2 flagged")
    for r in rows:
        e = "NULL" if r["eta2"] is None else f"{r['eta2']:.5f}"
        print(f"{r['cat_col']} {r['num_col']} {r['n']} {r['n_groups']} "
              f"{e} {r['flagged']}")
    n_flagged = sum(1 for r in rows if r["flagged"])
    print(f"flagged pairs: {n_flagged}")
    return 1 if n_flagged else 0


def cmd_discover_fks(args) -> int:
    """Inclusion-dependency (FK candidate) discovery across the data
    directory's tables (inference/fk_discovery.py): profile-signature
    pruning (metadata-only), then one distinct-dictionary join per
    surviving pair; prints every candidate's exact containment. The
    reference's ID-FK inference links keys only by shared column name —
    this verb finds the renamed ones. Informational: always exit 0."""
    from dataops_testgen_spark.inference.fk_discovery import fk_discovery

    spark = _spark()
    tables = _load_tables(spark, args.data_dir)
    store = _store(spark, args) if args.store else None
    inferred = _profile_all(spark, tables, args.run_date, store=store)
    out = fk_discovery(tables, inferred,
                       min_containment=args.min_containment,
                       max_candidates=args.max_candidates,
                       min_child_distinct=args.min_child_distinct)
    if out is None:
        print("no candidate pairs survive profile pruning")
        return 0
    # checkpointed: the collect below plus --out/--emit-tests/--store all
    # consume this relation — without it each action re-runs every
    # candidate pair's dictionary join
    out = out.localCheckpoint(eager=False)
    rows = sorted(out.collect(),
                  key=lambda r: (r["child_table"], r["child_column"],
                                 r["parent_table"], r["parent_column"]))
    print("child parent child_distinct matched containment flagged")
    for r in rows:
        c = ("NULL" if r["containment"] is None
             else f"{r['containment']:.5f}")
        print(f"{r['child_table']}.{r['child_column']} "
              f"{r['parent_table']}.{r['parent_column']} "
              f"{r['child_distinct']} {r['matched']} {c} {r['flagged']}")
    print(f"flagged pairs: {sum(1 for r in rows if r['flagged'])}")
    if args.out:
        _write(out, args.out, "fk_candidates")
    if args.emit_tests or args.store:
        from dataops_testgen_spark.inference.fk_discovery import (
            fk_to_test_defs)

        defs = fk_to_test_defs(out, args.run_date)
        n_defs = defs.count()       # once; reused by both branches below
        if args.emit_tests:
            _write(defs, args.emit_tests, "test_definitions")
            print(f"emitted {n_defs} Combo_Match definitions "
                  f"-> {args.emit_tests}")
        if store is not None:
            # recorded as a generation for the suite: run-tests
            # --test-suite <suite> then executes the referential
            # monitors alongside every other stored definition
            store.record_test_generation(
                defs, test_suite_key=args.test_suite,
                run_date=args.run_date)
            print(f"test_suite_key: {args.test_suite} "
                  f"({n_defs} referential definitions)")
    return 0


def cmd_fuzzy_match(args) -> int:
    """Blocked fuzzy record linkage (pipeline/linkage.py): near-duplicate
    name pairs within --max-dist Levenshtein edits, candidates restricted
    to one blocking-key equi-join. Writes (id_a, id_b, dist) pairs (self
    mode) or (query_id, match_id, dist) with --queries."""
    from dataops_testgen_spark.pipeline.linkage import fuzzy_match_pairs

    spark = _spark()
    df = spark.read.parquet(args.data)
    if args.condition:
        df = df.filter(args.condition)
    queries = spark.read.parquet(args.queries) if args.queries else None
    out = fuzzy_match_pairs(df, queries, col=args.column,
                            id_col=args.id_col, max_dist=args.max_dist,
                            block=args.block, prefix_len=args.prefix_len)
    out.write.mode("overwrite").parquet(args.out)
    n = spark.read.parquet(args.out).count()
    print(f"{n} fuzzy pairs (block={args.block}, "
          f"max_dist={args.max_dist}) -> {args.out}")
    return 0


def cmd_record_link(args) -> int:
    """Multi-field Fellegi-Sunter linkage (pipeline/linkage.py
    record_linkage): --field col:method[:max_dist[:m:u]] repeats per
    comparison field; candidates from one blocked equi-join, scores =
    sum of log2(m/u) agreement weights, NULL fields contribute 0.
    Writes (id_a, id_b | query_id, match_id), n_agree, score."""
    from dataops_testgen_spark.pipeline.linkage import (LinkField,
                                                        record_linkage)

    spark = _spark()
    learned = {}
    if args.model:
        # record-link-train output: per-field learned (m, u)
        learned = {r["field"]: (float(r["m"]), float(r["u"]))
                   for r in spark.read.parquet(args.model).collect()}
    fields = []
    for spec in args.field:
        parts = spec.split(":")
        if len(parts) not in (2, 3, 5):
            print(f"bad --field {spec!r}: want col:method[:max_dist[:m:u]]",
                  file=sys.stderr)
            return 2
        kw = {"col": parts[0], "method": parts[1]}
        if len(parts) >= 3:
            # the third slot is the method's own threshold: edit budget
            # for levenshtein, minimum similarity for jaccard
            if parts[1] == "jaccard":
                kw["min_jaccard"] = float(parts[2])
            else:
                kw["max_dist"] = int(parts[2])
        if len(parts) == 5:
            kw["m"], kw["u"] = float(parts[3]), float(parts[4])
        elif parts[0] in learned:
            kw["m"], kw["u"] = learned[parts[0]]
        fields.append(LinkField(**kw))
    df = spark.read.parquet(args.data)
    if args.condition:
        df = df.filter(args.condition)
    queries = spark.read.parquet(args.queries) if args.queries else None
    try:
        out = record_linkage(
            df, queries, fields=fields, id_col=args.id_col,
            block_col=args.block_col or None, block=args.block,
            prefix_len=args.prefix_len,
            threshold=args.threshold)
    except ValueError as e:
        print(str(e), file=sys.stderr)
        return 2
    out.write.mode("overwrite").parquet(args.out)
    n = spark.read.parquet(args.out).count()
    print(f"{n} scored pairs ({len(fields)} fields, block={args.block}"
          + (f", threshold={args.threshold}" if args.threshold is not None
             else "") + f") -> {args.out}")
    return 0


def cmd_record_link_train(args) -> int:
    """EM-estimate Fellegi-Sunter (m, u) weights + match prior from the
    data's own blocked candidate pairs (linkage.fs_em_train) and persist
    them as a (field, m, u, p, n_pairs) parquet — feed back into
    record-link via --field col:method:max_dist:m:u."""
    from dataops_testgen_spark.io.fs import write_small_df
    from dataops_testgen_spark.pipeline.linkage import (LinkField,
                                                        fs_em_train)

    fields = []
    for spec in args.field:
        parts = spec.split(":")
        if len(parts) not in (2, 3):
            print(f"bad --field {spec!r}: want col:method[:max_dist]",
                  file=sys.stderr)
            return 2
        kw = {"col": parts[0], "method": parts[1]}
        if len(parts) == 3:
            if parts[1] == "jaccard":
                kw["min_jaccard"] = float(parts[2])
            else:
                kw["max_dist"] = int(parts[2])
        fields.append(LinkField(**kw))
    spark = _spark()
    df = spark.read.parquet(args.data)
    if args.condition:
        df = df.filter(args.condition)
    try:
        model = fs_em_train(df, fields=fields, id_col=args.id_col,
                            block_col=args.block_col or None,
                            block=args.block, prefix_len=args.prefix_len,
                            n_iters=args.iters,
                            missing_state=args.three_state)
    except ValueError as e:
        print(str(e), file=sys.stderr)
        return 2
    write_small_df(spark,
                   [(c, m, u, model["p"], model["n_pairs"])
                    for c, m, u in model["fields"]],
                   "field string, m double, u double, p double, n_pairs long",
                   args.out)
    pairs = ", ".join(f"{c}: m={m:.4f} u={u:.4f}"
                      for c, m, u in model["fields"])
    print(f"EM over {model['n_pairs']} candidate pairs "
          f"(p={model['p']:.4f}): {pairs} -> {args.out}")
    return 0


def cmd_corpus_quality_train(args) -> int:
    """Train the logistic-regression quality classifier (classify.
    lr_train, damped diagonal-Newton over hashed n-gram features) from a
    labeled parquet and persist the (f, w) weight relation — classifier
    distillation as a CLI surface: imitate any boolean label column
    (an expensive gate's decisions, human labels, lang == 'en', ...)
    with a model cheap enough to score 100 TB."""
    from pyspark.sql import functions as F

    from dataops_testgen_spark.io.fs import write_small_df
    from dataops_testgen_spark.pipeline.classify import (lr_hash_features,
                                                         lr_train)

    spark = _spark()
    docs = spark.read.parquet(args.corpus).filter(
        F.col(args.text_col).isNotNull()
        & (F.trim(args.text_col) != ""))
    labels = docs.select(
        F.col(args.id_col).alias("id"),
        F.col(args.label_col).cast("double").alias("y"))
    if args.condition:
        labels = labels.join(
            docs.filter(args.condition)
            .select(F.col(args.id_col).alias("id")), "id")
    feats = lr_hash_features(docs, text_col=args.text_col,
                             id_col=args.id_col,
                             n_buckets=args.buckets, salt=args.salt)
    w = lr_train(feats, labels, n_iters=args.iters, damping=args.damping)
    # the model is self-describing: weights plus the featurization params
    # (buckets/salt) scoring MUST reuse — a mismatch would silently hash
    # every gram to the wrong feature
    import posixpath

    write_small_df(spark, sorted((int(f), float(x)) for f, x in w.items()),
                   "f long, w double", posixpath.join(args.model, "weights"))
    write_small_df(spark, [(int(args.buckets), args.salt)],
                   "buckets int, salt string",
                   posixpath.join(args.model, "meta"))
    print(f"LR quality model: {len(w)} weights ({args.buckets} buckets, "
          f"{args.iters} Newton steps) -> {args.model}")
    return 0


def cmd_corpus_quality_score(args) -> int:
    """Score a corpus against a persisted LR quality model
    (classify.lr_score): per-doc margin + sigmoid p; --min-p keeps only
    docs at or above the threshold (the distilled gate)."""
    from pyspark.sql import functions as F

    from dataops_testgen_spark.pipeline.classify import (lr_hash_features,
                                                         lr_score)

    import posixpath

    spark = _spark()
    docs = spark.read.parquet(args.corpus).filter(
        F.col(args.text_col).isNotNull()
        & (F.trim(args.text_col) != ""))
    w = {int(r["f"]): float(r["w"])
         for r in spark.read.parquet(
             posixpath.join(args.model, "weights")).collect()}
    # featurization params come from the model itself, never from flags —
    # a buckets/salt mismatch would silently score garbage
    meta = spark.read.parquet(posixpath.join(args.model, "meta")).first()
    feats = lr_hash_features(docs, text_col=args.text_col,
                             id_col=args.id_col,
                             n_buckets=int(meta["buckets"]),
                             salt=meta["salt"])
    out = lr_score(feats, w).persist()
    try:
        total = out.count()
        kept = (out.filter(F.col("p") >= args.min_p)
                if args.min_p is not None else out)
        if args.out:
            kept.write.mode("overwrite").parquet(args.out)
        n_kept = kept.count()
    finally:
        out.unpersist()
    print(f"scored {total} docs; kept {n_kept}"
          + (f" at p >= {args.min_p}" if args.min_p is not None else "")
          + (f" -> {args.out}" if args.out else ""))
    return 0


def cmd_vector_kmeans(args) -> int:
    """Train a k-means coarse quantizer over an embedding parquet and
    persist it as a (cell, centroid) parquet — feedable to vector-index /
    ivf probes, or inspectable on its own. --metric cosine (default)
    trains the deterministic spherical variant (similarity.kmeans_train,
    fixed --iters Lloyd rounds, oracle-able); --metric l2 trains the
    Euclidean tol-early-stop variant (train_ivf_centroids). With
    --assign-out, every vector's (id, cell, cosine) assignment is also
    written (spherical metric only)."""
    from dataops_testgen_spark.io.fs import write_small_df
    from dataops_testgen_spark.pipeline.similarity import (
        kmeans_assign, kmeans_train, train_ivf_centroids)

    # argument errors exit 2 BEFORE any Spark job runs or output lands
    if args.assign_out and args.metric != "cosine":
        print("--assign-out requires --metric cosine", file=sys.stderr)
        return 2
    spark = _spark()
    vecs = spark.read.parquet(args.vectors)
    if args.condition:
        vecs = vecs.filter(args.condition)
    if args.metric == "cosine":
        try:
            cents = kmeans_train(vecs, k=args.k, n_iters=args.iters,
                                 vec_col=args.vec_col, id_col=args.id_col)
        except ValueError as e:
            # kmeans_train raises when fewer than k valid vectors exist;
            # same documented clean exit as the l2 short-centroid path
            print(str(e), file=sys.stderr)
            return 2
    else:
        cents = train_ivf_centroids(vecs, num_centroids=args.k,
                                    max_iterations=args.iters,
                                    vec_col=args.vec_col,
                                    id_col=args.id_col)
    if len(cents) < args.k:
        # train_ivf_centroids returns a SHORT list (possibly empty) when
        # fewer than k clean vectors exist; don't write a broken model
        print(f"only {len(cents)} clean vectors for k={args.k}",
              file=sys.stderr)
        return 2
    write_small_df(spark,
                   [(i, [float(x) for x in c]) for i, c in enumerate(cents)],
                   "cell int, centroid array<double>", args.out)
    msg = (f"trained {len(cents)} {args.metric} centroids "
           f"(dim {len(cents[0])}) -> {args.out}")
    if args.assign_out:
        a = kmeans_assign(vecs, cents, vec_col=args.vec_col,
                          id_col=args.id_col)
        a.write.mode("overwrite").parquet(args.assign_out)
        msg += f"; assignments -> {args.assign_out}"
    print(msg)
    return 0


def cmd_vector_opq(args) -> int:
    """Fit an OPQ rotation + codebook (similarity.fit_opq, Ge et al.
    2013) over an embedding parquet and persist both as self-describing
    parquet (rotation: row i = R[i, :]; codebook: (s, c, centroid)) —
    the pre-rotation pq_topk/ivfadc consume via opq_topk."""
    import posixpath

    from dataops_testgen_spark.io.fs import write_small_df
    from dataops_testgen_spark.pipeline.similarity import fit_opq

    spark = _spark()
    vecs = spark.read.parquet(args.vectors)
    if args.condition:
        vecs = vecs.filter(args.condition)
    try:
        R, cb = fit_opq(vecs, m=args.m, k=args.k, n_iters=args.iters,
                        vec_col=args.vec_col, id_col=args.id_col)
    except ValueError as e:
        print(str(e), file=sys.stderr)
        return 2
    write_small_df(spark, [(i, row) for i, row in enumerate(R)],
                   "i int, r array<double>",
                   posixpath.join(args.out, "rotation"))
    write_small_df(spark,
                   [(s, c, cb[s][c]) for s in range(len(cb))
                    for c in range(len(cb[s]))],
                   "s int, c int, centroid array<double>",
                   posixpath.join(args.out, "codebook"))
    print(f"OPQ model: {len(R)}x{len(R)} rotation, "
          f"[{args.m}, {args.k}] codebook -> {args.out}")
    return 0


def cmd_vector_whiten(args) -> int:
    """Fit PCA whitening on an embedding parquet (one distributed
    covariance pass + driver-side eigh over the model-sized D x D
    matrix) and write the whitened vectors — the standard pre-PQ /
    pre-cosine conditioning step. The (mu, W) model persists alongside
    as a self-describing parquet (row i: mu_i + W[i, :])."""
    from dataops_testgen_spark.io.fs import write_small_df
    from dataops_testgen_spark.pipeline.similarity import (fit_whitening,
                                                           whiten)

    # argument errors exit 2 BEFORE any Spark job runs (the <= D bound
    # is checked by fit_whitening once the dimension is known)
    if args.components is not None and args.components <= 0:
        print("--components must be a positive integer", file=sys.stderr)
        return 2
    spark = _spark()
    vecs = spark.read.parquet(args.vectors)
    if args.condition:
        vecs = vecs.filter(args.condition)
    mu, w = fit_whitening(vecs, vec_col=args.vec_col,
                          n_components=args.components)
    if args.model:
        write_small_df(
            spark,
            [(i, float(mu[i]), [float(x) for x in w[i]])
             for i in range(len(mu))],
            "row int, mu double, w array<double>", args.model)
    out = whiten(vecs, mu, w, vec_col=args.vec_col, id_col=args.id_col)
    out.write.mode("overwrite").parquet(args.out)
    # count from the written footers — don't re-run the whitening job
    n_out = spark.read.parquet(args.out).count()
    print(f"whitened {n_out} vectors (dim {w.shape[0]} -> "
          f"{w.shape[1]}) -> {args.out}"
          + (f"; model -> {args.model}" if args.model else ""))
    return 0


def cmd_corpus_search(args) -> int:
    """Top-k search over a persisted index: BM25 over the lexical index
    by default; with --ann, two-stage vector retrieval (ann_index_probe
    shortlist from the IVFADC index, then rerank_exact over the true
    vectors); with --hybrid, BOTH retrievers fused by reciprocal rank
    (retrieval.rrf_fuse — needs --query for the lexical leg plus
    --ann-index/--vectors/--query-id for the vector leg)."""
    spark = _spark()
    if args.hybrid:
        from pyspark.sql import functions as F

        from dataops_testgen_spark.pipeline.retrieval import (
            bm25_index_topk, rrf_fuse)
        from dataops_testgen_spark.pipeline.similarity import (
            ann_index_probe, rerank_exact)

        if (not args.query or not args.ann_index or not args.vectors
                or args.query_id is None):
            print("corpus-search --hybrid needs --query, --ann-index, "
                  "--vectors and --query-id")
            return 2
        qs = spark.createDataFrame([(1, args.query)],
                                   "query_id long, query_text string")
        lex = (bm25_index_topk(spark, qs, args.index_dir, k=args.k,
                               n_buckets=args.buckets)
               .select("query_id", "id", F.col("rnk").alias("rank")))
        vecs = spark.read.parquet(args.vectors)
        queries = vecs.filter(F.col(args.id_col) == args.query_id)
        if queries.isEmpty():
            print(f"query id {args.query_id} not found in {args.vectors}")
            return 2
        shortlist = ann_index_probe(queries, args.ann_index,
                                    k=args.shortlist, nprobe=args.nprobe,
                                    vec_col=args.vec_col,
                                    id_col=args.id_col)
        vec = (rerank_exact(vecs, shortlist.select("query_id",
                                                   "neighbor_id"),
                            queries=queries, k=args.k,
                            vec_col=args.vec_col, id_col=args.id_col)
               .select(F.lit(1).cast("long").alias("query_id"),
                       F.col("neighbor_id").alias("id"), "rank"))
        out = rrf_fuse([lex, vec], k=args.k)
        for r in out.orderBy("rank").collect():
            print(f"{r['rank']:>3}  {r['rrf_score']:>10.6f}  {r['id']}")
        return 0
    if args.ann:
        from pyspark.sql import functions as F

        from dataops_testgen_spark.pipeline.similarity import (
            ann_index_probe, rerank_exact)

        if not args.vectors or args.query_id is None:
            print("corpus-search --ann needs --vectors and --query-id")
            return 2
        vecs = spark.read.parquet(args.vectors)
        queries = vecs.filter(F.col(args.id_col) == args.query_id)
        if queries.isEmpty():
            print(f"query id {args.query_id} not found in {args.vectors}")
            return 2
        shortlist = ann_index_probe(queries, args.index_dir,
                                    k=args.shortlist, nprobe=args.nprobe,
                                    vec_col=args.vec_col,
                                    id_col=args.id_col)
        out = rerank_exact(vecs, shortlist.select("query_id",
                                                  "neighbor_id"),
                           queries=queries, k=args.k,
                           vec_col=args.vec_col, id_col=args.id_col)
        for r in out.orderBy("rank").collect():
            print(f"{r['rank']:>3}  {r['cosine']:>10.6f}  "
                  f"{r['neighbor_id']}")
        return 0
    from dataops_testgen_spark.pipeline.retrieval import bm25_index_topk

    if not args.query:
        print("corpus-search needs --query (or --ann with --vectors "
              "and --query-id)")
        return 2
    qs = spark.createDataFrame([(1, args.query)],
                               "query_id long, query_text string")
    out = bm25_index_topk(spark, qs, args.index_dir, k=args.k,
                          n_buckets=args.buckets).select("id", "score",
                                                         "rnk")
    for r in out.orderBy("rnk").collect():
        print(f"{r['rnk']:>3}  {r['score']:>10.5f}  {r['id']}")
    return 0


def cmd_corpus_mix(args) -> int:
    """Temperature domain-mixture plan over a corpus
    (sampling.temperature_mixture_plan: w_s = n_s^tau / Σ n^tau, largest
    no-oversample budget): prints the per-source plan and, with --out,
    materializes the subsampled mix via the deterministic salted-md5
    draw (apply_mixture_plan)."""
    from dataops_testgen_spark.pipeline.sampling import (
        apply_mixture_plan, temperature_mixture_plan)

    spark = _spark()
    docs = spark.read.parquet(args.corpus)
    plan = temperature_mixture_plan(
        docs, tau=args.tau, source_col=args.source_col,
        text_col=(args.text_col if args.token_budget else None))
    unit = "tokens" if args.token_budget else "docs"
    for r in plan.collect():
        print(f"{r['source']:>20}  n_{unit}={r['n_units']:>12}  "
              f"w={r['weight']:.6f}  keep={r['fraction']:.6f}  "
              f"expect={r['expect_units']}")
    if args.out:
        kept = apply_mixture_plan(docs, plan, source_col=args.source_col,
                                  id_col=args.id_col, salt=args.salt)
        kept.write.mode("overwrite").parquet(args.out)
        print(f"wrote {kept.count()} docs -> {args.out}")
    return 0


def cmd_events_sessionize(args) -> int:
    """Gap-based sessionization over an event parquet
    (pipeline/sessions.py session_stats): writes per-session stats and
    prints the session count + median events/session."""
    from dataops_testgen_spark.pipeline.sessions import session_stats

    spark = _spark()
    ev = spark.read.parquet(args.events)
    out = session_stats(ev, user_col=args.user_col, ts_col=args.ts_col,
                        gap_minutes=args.gap_minutes,
                        value_col=args.value_col)
    if args.out:
        out.write.mode("overwrite").parquet(args.out)
    n = out.count()
    med = out.approxQuantile("n_events", [0.5], 0.001)[0] if n else None
    print(f"{n} sessions (gap {args.gap_minutes} min), "
          f"median events/session {med}"
          + (f" -> {args.out}" if args.out else ""))
    return 0


def cmd_events_funnel(args) -> int:
    """Ordered funnel analysis (pipeline/sessions.py funnel): per-step
    completion counts for a comma-separated step chain."""
    from pyspark.sql import functions as F

    from dataops_testgen_spark.pipeline.sessions import funnel

    spark = _spark()
    ev = spark.read.parquet(args.events)
    steps = [s for s in args.steps.split(",") if s]
    if len(steps) < 2:
        print("need at least two comma-separated steps", file=sys.stderr)
        return 2
    out = funnel(ev, steps, user_col=args.user_col, ts_col=args.ts_col,
                 within_minutes=args.within_minutes)
    if args.out:
        out.write.mode("overwrite").parquet(args.out)
    counts = out.groupBy("steps_completed").agg(
        F.count(F.lit(1)).alias("n")).collect()
    by_depth = {r["steps_completed"]: r["n"] for r in counts}
    reached = 0
    for depth in range(len(steps), 0, -1):
        reached += by_depth.get(depth, 0)
        print(f"step {depth} ({steps[depth - 1]}): {reached} users")
    return 0


def cmd_corpus_dedup(args) -> int:
    """End-to-end corpus deduplication (pipeline/dedup.py): exact mode
    drops byte-identical texts (md5 groupBy, keep min doc id); near mode
    runs the two-stage production path — MinHash-LSH candidates verified
    by exact shingle Jaccard at --threshold — then keeps one
    representative per duplicate cluster. Writes the deduped corpus and
    prints the keep rate."""
    from pyspark.sql import functions as F

    from dataops_testgen_spark.pipeline.dedup import (dedup_keep_one,
                                                      exact_duplicates,
                                                      verified_near_dups)

    spark = _spark()
    docs = spark.read.parquet(args.corpus)
    total = docs.count()
    if args.mode == "exact":
        groups = exact_duplicates(docs, text_col=args.text_col,
                                  id_col=args.id_col)
        # each group's doc_ids are sorted; drop everything after the head
        drop = (groups.select(F.explode(F.expr(
            "slice(doc_ids, 2, size(doc_ids) - 1)")).alias("__drop_id__"))
            .localCheckpoint())
        kept = docs.join(F.broadcast(drop) if drop.count() * 32
                         <= 256 * 1024 * 1024 else drop,
                         docs[args.id_col] == F.col("__drop_id__"),
                         "left_anti")
    else:
        pairs = verified_near_dups(docs, text_col=args.text_col,
                                   id_col=args.id_col,
                                   threshold=args.threshold)
        kept = dedup_keep_one(docs, pairs, id_col=args.id_col)
    kept.write.mode("overwrite").parquet(args.out)
    n = spark.read.parquet(args.out).count()
    print(f"{args.mode} dedup: kept {n}/{total} docs "
          f"({n / total:.4f}) -> {args.out}")
    return 0


def cmd_corpus_decontaminate(args) -> int:
    """Benchmark decontamination (pipeline/dedup.py ngram_contamination):
    flag corpus docs sharing any word k-gram with an evaluation set (the
    GPT-3/PaLM train-test-overlap screen), then write the CLEAN corpus
    (and optionally the contamination report)."""
    from pyspark.sql import functions as F

    from dataops_testgen_spark.pipeline.dedup import ngram_contamination

    spark = _spark()
    docs = spark.read.parquet(args.corpus)
    bench = spark.read.parquet(args.benchmark)
    total = docs.count()
    hits = ngram_contamination(docs, bench, text_col=args.text_col,
                               id_col=args.id_col, k=args.k)
    if args.report:
        hits.write.mode("overwrite").parquet(args.report)
    drop = hits.select(F.col("id").alias("__drop_id__"))
    clean = docs.join(F.broadcast(drop) if hits.count() * 32
                      <= 256 * 1024 * 1024 else drop,
                      docs[args.id_col] == F.col("__drop_id__"),
                      "left_anti")
    clean.write.mode("overwrite").parquet(args.out)
    n = spark.read.parquet(args.out).count()
    print(f"decontaminated at {args.k}-grams: kept {n}/{total} docs "
          f"({n / total:.4f}) -> {args.out}"
          + (f", report -> {args.report}" if args.report else ""))
    return 0


def cmd_corpus_lm_train(args) -> int:
    """Train the order-n stupid-backoff LM once (pipeline/text.py
    ngram_model_train) — the CCNet-style fluency gate's model: one
    corpus scan persists the single padded-gram count relation every
    backoff order derives from."""
    from dataops_testgen_spark.pipeline.text import ngram_model_train

    spark = _spark()
    docs = spark.read.parquet(args.corpus)
    ngram_model_train(docs, args.model, text_col=args.text_col,
                      n=args.order)
    n_rows = spark.read.parquet(args.model).count()
    print(f"order-{args.order} LM model: {n_rows} padded-gram rows "
          f"-> {args.model}")
    return 0


def cmd_corpus_lm_score(args) -> int:
    """Score a corpus against a persisted LM model (pipeline/text.py
    ngram_lm_score(model_path=...)): per-doc mean n-gram NLL +
    perplexity-like score; --max-score keeps only docs at or below the
    threshold (the fluency gate — low score = corpus-like prose)."""
    from pyspark.sql import functions as F

    from dataops_testgen_spark.pipeline.text import ngram_lm_score

    spark = _spark()
    docs = spark.read.parquet(args.corpus)
    model_cols = spark.read.parquet(args.model).columns
    order = len([c for c in model_cols if c.startswith("g")])
    out = ngram_lm_score(docs, text_col=args.text_col,
                         id_col=args.id_col, n=order,
                         model_path=args.model)
    total = out.count()
    scored = out.filter(F.col("score").isNotNull())
    if args.max_score is not None:
        kept = scored.filter(F.col("score") <= args.max_score)
    else:
        kept = scored
    if args.out:
        kept.write.mode("overwrite").parquet(args.out)
    n_kept = kept.count()
    mean = kept.agg(F.avg("score")).first()[0]
    print(f"order-{order} LM scored {total} docs; kept {n_kept}"
          + (f" at score <= {args.max_score}" if args.max_score
             is not None else "")
          + (f", mean score {mean:.4f}" if mean is not None else "")
          + (f" -> {args.out}" if args.out else ""))
    return 0


def cmd_events_retention(args) -> int:
    """Cohort retention rollup (pipeline/sessions.py retention_cohorts).
    With ``--state DIR`` the events fold into the persisted per-user
    streaming state instead (streaming/monitors.py retention_sink —
    (uid, cohort_day, activity mask) rows, exactly-once staged swap), so
    repeated invocations stay incremental and the rollup always reflects
    every event ever folded; ``--max-horizon`` fixes the mask bound and
    must not shrink between invocations of the same state dir."""
    from dataops_testgen_spark.pipeline.sessions import retention_cohorts

    spark = _spark()
    ev = spark.read.parquet(args.events)
    horizons = tuple(int(h) for h in args.horizons.split(",") if h)
    if not horizons:
        print("need at least one horizon", file=sys.stderr)
        return 2
    if args.state:
        from dataops_testgen_spark.io.fs import path_exists
        from dataops_testgen_spark.streaming.monitors import (
            retention_sink, retention_state_result)

        if max(horizons) > args.max_horizon:
            print(f"horizons beyond --max-horizon {args.max_horizon} "
                  "are not recorded in the state mask", file=sys.stderr)
            return 2
        base = args.state.rstrip("/")
        nxt = 0
        if path_exists(spark, base + "/_last_batch"):
            last = spark.read.parquet(base + "/_last_batch").first()
            nxt = int(last["batch_id"]) + 1
        retention_sink(base, user_col=args.user_col, ts_col=args.ts_col,
                       max_horizon=args.max_horizon)(ev, nxt)
        out = retention_state_result(spark, base, horizons=horizons)
    else:
        out = retention_cohorts(ev, user_col=args.user_col,
                                ts_col=args.ts_col, horizons=horizons)
    if args.out:
        out.write.mode("overwrite").parquet(args.out)
    rows = sorted(out.collect(), key=lambda r: r["cohort_day"])
    for r in rows:
        rates = "  ".join(f"d{h}={r[f'rate_d{h}']}" for h in horizons)
        print(f"{r['cohort_day']}  n={r['n_users']}  {rates}")
    print(f"{len(rows)} cohorts"
          + (f" -> {args.out}" if args.out else ""))
    return 0


def _add_common(p, data=False, store=True, gen=False):
    if data:
        p.add_argument("--data-dir", required=True)
        p.add_argument("--out", default="")
        p.add_argument("--run-date", default=dt.date.today().isoformat())
    if store:
        p.add_argument("--store", default="",
                       help="run-store root dir (parquet app DB)")
        p.add_argument("--project-key", default="DEFAULT")
        p.add_argument("--table-group", default="",
                       help="table group id recorded with profile runs "
                            "(default 'default'; empty = no filter on "
                            "list commands)")
        p.add_argument("--test-suite", default="default_suite",
                       help="test suite key recorded with generation/runs")
    if gen:
        p.add_argument("--test-types", default="",
                       help="comma-separated test-type subset for "
                            "generation (reference --generation-set / "
                            "test_types_filter)")
        p.add_argument("--tables", default="",
                       help="comma-separated table subset for generation")
    p.add_argument("-d", "--display", action="store_true",
                   help="print result table to the terminal")
    p.add_argument("--csv-dir", default="",
                   help="directory for the command's CSV output "
                        "(default: cwd)")


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(prog="dataops_testgen_spark")
    sub = parser.add_subparsers(dest="command", required=True)

    def cmd(name, fn, **kw):
        p = sub.add_parser(name)
        _add_common(p, **kw)
        p.set_defaults(fn=fn)
        return p

    for name, fn in (("run-profile", cmd_run_profile),
                     ("run-anomalies", cmd_run_anomalies)):
        p = cmd(name, fn, data=True)
        p.add_argument("--approx", action="store_true",
                       help="HLL distincts + approx percentiles: one fused "
                            "scan per table, the 100 TB profile mode")
        p.add_argument("--sample", action="store_true",
                       help="Bernoulli-sample tables over 100k rows and "
                            "scale count metrics (reference sampling "
                            "semantics, seed 64)")
        p.add_argument("--notify-out", default="",
                       help="append the profiling-run notification event "
                            "(hygiene counts by likelihood) to this JSONL "
                            "file")
        p.add_argument("--spearman", action="store_true",
                       help="also run the rank-correlation pass: "
                            "monotone-nonlinear derivations (reciprocals, "
                            "logs, rate curves) flag as Correlated_Columns "
                            "with a Monotone-correlated detail (one extra "
                            "rank transform + fused agg per table)")
        if name == "run-profile":
            p.add_argument("--incremental", action="store_true",
                           help="profile only the --subset-condition slice "
                                "with mergeable sketches and fold it into "
                                "the table group's latest stored profile "
                                "(never rescans history; requires --store "
                                "for history, excludes --sample)")
            p.add_argument("--subset-condition", default="",
                           help="SQL predicate selecting the NEW rows to "
                                "profile incrementally, e.g. a partition "
                                "filter")
    p = cmd("discover-fks", cmd_discover_fks, data=True)
    p.add_argument("--min-containment", type=float, default=0.99,
                   help="flag threshold on |child∩parent| / |child| "
                        "(distinct values)")
    p.add_argument("--max-candidates", type=int, default=64,
                   help="cap on profile-pruned pairs (one dictionary "
                        "join each); overflow is reported, not silent")
    p.add_argument("--min-child-distinct", type=int, default=20,
                   help="ignore children below this cardinality (the "
                        "small-domain IND false-positive guard: a "
                        "1..7-valued column sits inside every dense key "
                        "range and would otherwise be stored as a "
                        "forever-running referential monitor under "
                        "--store/--emit-tests; lower to 1 to see every "
                        "candidate)")
    p.add_argument("--emit-tests", default="",
                   help="also write Combo_Match test definitions for "
                        "every flagged FK to this parquet path "
                        "(mergeable via run-test-generation's store)")

    cmd("run-test-generation", cmd_run_test_generation, data=True, gen=True)
    cmd("run-monitor-generation", cmd_run_monitor_generation, data=True)
    p = cmd("run-tests", cmd_run_tests, data=True, gen=True)
    p.add_argument("--bucketed", default="",
                   help="bucket dir written by prepare-bucketed: read data "
                        "tables through their bucketed catalog variants so "
                        "referential joins/groupBys plan with no shuffle "
                        "Exchange")
    p.add_argument("--bucket-store", type=int, default=0,
                   help="bucket count for the store's result tables "
                        "(profile/anomaly/test results become bucketed "
                        "catalog tables keyed on (table_name, column_name) "
                        "— the scoring-refresh join/rollup path plans "
                        "Exchange-free; sticky per store root)")
    p.add_argument("--regenerate", action="store_true",
                   help="ignore stored suite definitions and regenerate "
                        "from a fresh profile")
    p.add_argument("--no-fk-sync", action="store_true",
                   help="skip re-verifying stored FK-discovered "
                        "referential monitors against current data "
                        "(default: a vanished inclusion dependency "
                        "deactivates its Combo_Match, a new one joins "
                        "the suite)")
    p.add_argument("--notify-out", default="",
                   help="append fired notification events (run summary + "
                        "highlights) to this JSONL file")
    p.add_argument("--notify-trigger", default="always",
                   help="comma-separated triggers to register: always,"
                        "on_changes,on_warnings,on_failures")

    p = cmd("run-monitors", cmd_run_monitors, data=True)
    p.add_argument("--schedule", default="",
                   help="5-field cron expr: loop run-monitors on this "
                        "schedule (scheduler/base.py semantics) instead of "
                        "a one-shot run")
    p.add_argument("--max-cycles", type=int, default=0,
                   help="with --schedule: stop after N firings (0 = run "
                        "until interrupted)")
    p.add_argument("--observability-out", default="",
                   help="append exported observability event payloads to "
                        "this JSONL file")

    p = sub.add_parser("quick-start")
    p.add_argument("--data-dir", required=True)
    p.set_defaults(fn=cmd_quick_start)

    p = sub.add_parser("prepare-bucketed")
    p.add_argument("--data-dir", required=True)
    p.add_argument("--bucket-dir", required=True,
                   help="output dir for the bucketed external tables + "
                        "manifest.json (pass to run-tests --bucketed)")
    p.add_argument("--buckets", type=int, default=32)
    p.add_argument("--null-safe-keys", action="store_true",
                   help="bucket by a materialized struct of the keys so "
                        "referential joins plan Exchange-free even with "
                        "NULL group keys (Combo_Match/Aggregate_Balance)")
    p.set_defaults(fn=cmd_prepare_bucketed)

    p = cmd("run-rollup-scores", cmd_run_rollup_scores)
    p.add_argument("--kind", default="profile", choices=["profile", "test"],
                   help="which run type to re-roll when no run id is given")
    p.add_argument("--profile-run-id", default="",
                   help="profile run to re-roll (default: latest Complete)")
    p.add_argument("--test-run-id", default="",
                   help="test run to re-roll (implies --kind test)")
    p = cmd("recalculate-scores", cmd_recalculate_scores)
    p = cmd("refresh-score-cards", cmd_refresh_score_cards)
    p.add_argument("--profile-run-id", default="")
    p.add_argument("--test-run-id", default="")

    p = cmd("list-profiles", cmd_list_profiles)
    p = cmd("get-profile", cmd_get_profile)
    p.add_argument("--profile-run-id", required=True)
    p.add_argument("--table-name", default="")
    p = cmd("get-profile-anomalies", cmd_get_profile_anomalies)
    p.add_argument("--profile-run-id", required=True)
    p.add_argument("--table-name", default="")
    p = cmd("diff-profiles", cmd_diff_profiles)
    p.add_argument("--run-a", default="",
                   help="older profile_run_id (default: second-latest run "
                        "of --table-group)")
    p.add_argument("--run-b", default="",
                   help="newer profile_run_id (default: latest run)")
    cmd("list-test-generation", cmd_list_test_generation)
    cmd("list-tests", cmd_list_tests)
    cmd("list-test-runs", cmd_list_test_runs)
    p = cmd("get-test-results", cmd_get_test_results)
    p.add_argument("--test-run-id", required=True)
    p.add_argument("-f", "--fails-only", action="store_true")
    cmd("list-test-types", cmd_list_test_types, store=False)
    cmd("list-test-suites", cmd_list_test_suites)
    cmd("list-table-groups", cmd_list_table_groups)
    cmd("list-projects", cmd_list_projects)

    p = cmd("export-tests", cmd_export_tests, data=True, store=False)
    p.add_argument("--doc", default="",
                   help="output JSON path")
    p.add_argument("--defs", default="",
                   help="existing test_definitions parquet dir (defaults "
                        "to freshly generated definitions when omitted)")

    p = cmd("import-tests", cmd_import_tests, data=True, store=False)
    p.add_argument("--doc", required=True, help="input JSON document path")
    p.add_argument("--defs", default="",
                   help="existing test_definitions parquet dir "
                        "(import target)")
    p.add_argument("--mode", default="preview",
                   choices=["preview", "apply", "apply_strict"])
    p.add_argument("--on-match", default="overwrite_unlocked",
                   choices=["overwrite_all", "overwrite_unlocked", "skip"])
    p.add_argument("--on-new", default="create",
                   choices=["skip", "create", "create_and_lock"])
    p.add_argument("--on-absence", default="do_nothing",
                   choices=["do_nothing", "delete_all", "delete_unlocked"])

    p = cmd("export-observability", cmd_export_observability)
    p.add_argument("--test-run-id", default="",
                   help="run to export (default: latest run in the store)")
    p.add_argument("--doc", default="",
                   help="output JSONL path")
    p.add_argument("--api-url", default="",
                   help="Observability API base URL: POST event chunks "
                        "instead of writing JSONL (reference transport)")
    p.add_argument("--api-key", default="",
                   help="ServiceAccountAuthenticationKey header value")

    p = sub.add_parser("export-test-metadata")
    p.add_argument("--path", default="test_metadata",
                   help="output directory for the yaml files")
    p.set_defaults(fn=cmd_export_test_metadata)

    p = sub.add_parser("corpus-curate")
    p.add_argument("--corpus", required=True,
                   help="parquet dir/file of documents")
    p.add_argument("--out", default="", help="parquet output for decisions")
    p.add_argument("--allowed-langs", required=True,
                   help="comma-separated predicted-language allowlist")
    p.add_argument("--quality-flags", default="",
                   help="comma-separated Gopher flags to require "
                        "(default: the full gopher_pass)")
    p.add_argument("--train-condition", default="",
                   help="SQL predicate selecting the labeled seed rows "
                        "(default: rows where --label-col is not null)")
    p.add_argument("--text-col", default="text")
    p.add_argument("--id-col", default="doc_id")
    p.add_argument("--label-col", default="lang")
    p.set_defaults(fn=cmd_corpus_curate)

    p = sub.add_parser("corpus-index")
    p.add_argument("--corpus", required=True)
    p.add_argument("--index-dir", required=True)
    p.add_argument("--condition", default="",
                   help="SQL predicate selecting the increment to append")
    p.add_argument("--buckets", type=int, default=64)
    p.add_argument("--compact", action="store_true",
                   help="compact postings/doclen after the append")
    p.add_argument("--text-col", default="text")
    p.add_argument("--id-col", default="doc_id")
    p.set_defaults(fn=cmd_corpus_index)

    p = sub.add_parser("corpus-mix")
    p.add_argument("--corpus", required=True)
    p.add_argument("--tau", type=float, default=0.5,
                   help="temperature: <1 upsamples tail domains, "
                        "1 = natural mix")
    p.add_argument("--out", default="",
                   help="parquet output for the materialized mix")
    p.add_argument("--token-budget", action="store_true",
                   help="size sources by token counts instead of docs")
    p.add_argument("--source-col", default="source")
    p.add_argument("--text-col", default="text")
    p.add_argument("--id-col", default="doc_id")
    p.add_argument("--salt", default="mix")
    p.set_defaults(fn=cmd_corpus_mix)

    p = sub.add_parser("events-sessionize")
    p.add_argument("--events", required=True,
                   help="parquet dir/file of events")
    p.add_argument("--gap-minutes", type=float, default=30.0)
    p.add_argument("--out", default="")
    p.add_argument("--user-col", default="user_id")
    p.add_argument("--ts-col", default="ts")
    p.add_argument("--value-col", default="value")
    p.set_defaults(fn=cmd_events_sessionize)

    p = sub.add_parser("events-funnel")
    p.add_argument("--events", required=True)
    p.add_argument("--steps", required=True,
                   help="comma-separated ordered event types")
    p.add_argument("--within-minutes", type=float, default=None)
    p.add_argument("--out", default="")
    p.add_argument("--user-col", default="user_id")
    p.add_argument("--ts-col", default="ts")
    p.set_defaults(fn=cmd_events_funnel)

    p = sub.add_parser("corpus-dedup")
    p.add_argument("--corpus", required=True)
    p.add_argument("--out", required=True,
                   help="output parquet dir for the deduped corpus")
    p.add_argument("--mode", choices=["exact", "near"], default="near")
    p.add_argument("--threshold", type=float, default=0.8,
                   help="near mode: exact-Jaccard verification threshold")
    p.add_argument("--text-col", default="text")
    p.add_argument("--id-col", default="doc_id")
    p.set_defaults(fn=cmd_corpus_dedup)

    p = sub.add_parser("corpus-decontaminate")
    p.add_argument("--corpus", required=True)
    p.add_argument("--benchmark", required=True,
                   help="parquet of the evaluation/benchmark documents")
    p.add_argument("--out", required=True,
                   help="output parquet dir for the clean corpus")
    p.add_argument("--report", default="",
                   help="optional parquet dir for the contamination report")
    p.add_argument("--k", type=int, default=8,
                   help="word k-gram overlap size (GPT-3 used 13)")
    p.add_argument("--text-col", default="text")
    p.add_argument("--id-col", default="doc_id")
    p.set_defaults(fn=cmd_corpus_decontaminate)

    p = sub.add_parser("corpus-lm-train")
    p.add_argument("--corpus", required=True,
                   help="parquet of training documents")
    p.add_argument("--model", required=True,
                   help="output dir for the persisted LM model")
    p.add_argument("--order", type=int, default=5)
    p.add_argument("--text-col", default="text")
    p.set_defaults(fn=cmd_corpus_lm_train)

    p = sub.add_parser("corpus-lm-score")
    p.add_argument("--corpus", required=True)
    p.add_argument("--model", required=True,
                   help="model dir from corpus-lm-train (order inferred)")
    p.add_argument("--max-score", type=float, default=None,
                   help="keep only docs with score <= threshold")
    p.add_argument("--out", default="")
    p.add_argument("--text-col", default="text")
    p.add_argument("--id-col", default="doc_id")
    p.set_defaults(fn=cmd_corpus_lm_score)

    p = sub.add_parser("events-retention")
    p.add_argument("--events", required=True)
    p.add_argument("--horizons", default="1,7",
                   help="comma-separated day offsets, e.g. 1,7,30")
    p.add_argument("--state", default="",
                   help="persisted per-user state dir: fold incrementally "
                        "instead of a one-shot rollup")
    p.add_argument("--max-horizon", type=int, default=30,
                   help="state-mask bound (state mode only; keep constant "
                        "per state dir)")
    p.add_argument("--out", default="")
    p.add_argument("--user-col", default="user_id")
    p.add_argument("--ts-col", default="ts")
    p.set_defaults(fn=cmd_events_retention)

    p = sub.add_parser("vector-index")
    p.add_argument("--vectors", required=True,
                   help="parquet with (id, embedding) rows to append")
    p.add_argument("--index-dir", required=True)
    p.add_argument("--condition", default="",
                   help="SQL predicate selecting the increment to append")
    p.add_argument("--cells", type=int, default=16,
                   help="IVF coarse cells (first append trains them)")
    p.add_argument("-m", type=int, default=4, dest="m",
                   help="PQ subspaces")
    p.add_argument("--codewords", type=int, default=16,
                   help="PQ codewords per subspace")
    p.add_argument("--compact", action="store_true",
                   help="compact the code files after the append")
    p.add_argument("--opq-model", default="",
                   help="vector-opq output dir; first build trains the "
                        "quantizers in the rotated space and persists "
                        "the rotation with the index")
    p.add_argument("--vec-col", default="embedding")
    p.add_argument("--id-col", default="vec_id")
    p.set_defaults(fn=cmd_vector_index)

    p = sub.add_parser("table-benford")
    p.add_argument("--data", required=True, help="parquet dir/file")
    p.add_argument("--column", required=True, help="numeric column")
    p.add_argument("--chi2-max", type=float, default=None,
                   help="exit 1 when the chi-square total exceeds this")
    p.add_argument("--condition", default="")
    p.set_defaults(fn=cmd_table_benford)

    p = sub.add_parser("table-correlation")
    p.add_argument("--data", required=True, help="parquet dir/file")
    p.add_argument("--columns", default="",
                   help="comma list (default: all numeric columns)")
    p.add_argument("--min-abs-corr", type=float, default=0.95)
    p.add_argument("--min-n", type=int, default=500)
    p.add_argument("--method", choices=["pearson", "spearman"],
                   default="pearson",
                   help="spearman (rank) also catches monotone-nonlinear "
                        "derivations: reciprocals, logs, rate curves")
    p.add_argument("--condition", default="")
    p.set_defaults(fn=cmd_table_correlation)

    p = sub.add_parser("table-dependence")
    p.add_argument("--data", required=True, help="parquet dir/file")
    p.add_argument("--cat-columns", required=True,
                   help="comma list of categorical columns")
    p.add_argument("--num-columns", required=True,
                   help="comma list of numeric measure columns")
    p.add_argument("--min-eta2", type=float, default=0.95)
    p.add_argument("--min-n", type=int, default=500)
    p.add_argument("--max-groups", type=int, default=20,
                   help="refuse categoricals above this cardinality "
                        "(keeps the per-group relation model-sized; "
                        "the contingency rule's 20-group bound)")
    p.add_argument("--condition", default="")
    p.set_defaults(fn=cmd_table_dependence)

    p = sub.add_parser("fuzzy-match")
    p.add_argument("--data", required=True, help="parquet with id + name")
    p.add_argument("--column", required=True, help="name column to match")
    p.add_argument("--out", required=True)
    p.add_argument("--id-col", required=True)
    p.add_argument("--max-dist", type=int, default=2)
    p.add_argument("--block", choices=["last_token", "first_token",
                                       "prefix", "soundex"],
                   default="last_token")
    p.add_argument("--prefix-len", type=int, default=3)
    p.add_argument("--queries", default="",
                   help="probe parquet (same schema); omit for self mode")
    p.add_argument("--condition", default="")
    p.set_defaults(fn=cmd_fuzzy_match)

    p = sub.add_parser("record-link")
    p.add_argument("--data", required=True, help="parquet with id + fields")
    p.add_argument("--field", required=True, action="append",
                   help="col:method[:threshold[:m:u]], repeatable; method in "
                        "exact|levenshtein|soundex|jaccard (threshold = "
                        "edit budget / min similarity)")
    p.add_argument("--model", default="",
                   help="record-link-train output: fields named there "
                        "take their learned (m, u) unless given inline")
    p.add_argument("--out", required=True)
    p.add_argument("--id-col", required=True)
    p.add_argument("--block-col", default="",
                   help="blocking column (default: first field)")
    p.add_argument("--block", choices=["last_token", "first_token",
                                       "prefix", "soundex"],
                   default="last_token")
    p.add_argument("--prefix-len", type=int, default=3)
    p.add_argument("--threshold", type=float, default=None,
                   help="keep pairs with score >= threshold")
    p.add_argument("--queries", default="",
                   help="probe parquet (same schema); omit for self mode")
    p.add_argument("--condition", default="")
    p.set_defaults(fn=cmd_record_link)

    p = sub.add_parser("record-link-train")
    p.add_argument("--data", required=True)
    p.add_argument("--field", required=True, action="append",
                   help="col:method[:max_dist], repeatable")
    p.add_argument("--out", required=True,
                   help="learned (field, m, u, p, n_pairs) parquet")
    p.add_argument("--id-col", required=True)
    p.add_argument("--block-col", default="")
    p.add_argument("--block", choices=["last_token", "first_token",
                                       "prefix", "soundex"],
                   default="last_token")
    p.add_argument("--prefix-len", type=int, default=3)
    p.add_argument("--iters", type=int, default=5)
    p.add_argument("--three-state", action="store_true",
                   help="Winkler 3-state patterns: missing fields are "
                        "uninformative instead of scored as disagreement")
    p.add_argument("--condition", default="")
    p.set_defaults(fn=cmd_record_link_train)

    p = sub.add_parser("vector-opq")
    p.add_argument("--vectors", required=True)
    p.add_argument("--out", required=True,
                   help="model dir: rotation + codebook parquet")
    p.add_argument("--m", type=int, default=4)
    p.add_argument("--k", type=int, default=16)
    p.add_argument("--iters", type=int, default=3)
    p.add_argument("--vec-col", default="embedding")
    p.add_argument("--id-col", default="vec_id")
    p.add_argument("--condition", default="")
    p.set_defaults(fn=cmd_vector_opq)

    p = sub.add_parser("corpus-quality-train")
    p.add_argument("--corpus", required=True,
                   help="labeled parquet with text + boolean label column")
    p.add_argument("--label-col", required=True,
                   help="boolean/0-1 column to imitate")
    p.add_argument("--model", required=True,
                   help="output parquet for the (f, w) weight relation")
    p.add_argument("--buckets", type=int, default=512)
    p.add_argument("--iters", type=int, default=8,
                   help="diagonal-Newton steps")
    p.add_argument("--damping", type=float, default=0.003)
    p.add_argument("--condition", default="",
                   help="SQL predicate selecting the training rows")
    p.add_argument("--salt", default="lr")
    p.add_argument("--text-col", default="text")
    p.add_argument("--id-col", default="doc_id")
    p.set_defaults(fn=cmd_corpus_quality_train)

    p = sub.add_parser("corpus-quality-score")
    p.add_argument("--corpus", required=True)
    p.add_argument("--model", required=True,
                   help="model dir from corpus-quality-train "
                        "(weights + featurization meta)")
    p.add_argument("--out", default="")
    p.add_argument("--min-p", type=float, default=None,
                   help="keep only docs with sigmoid score >= this")
    p.add_argument("--text-col", default="text")
    p.add_argument("--id-col", default="doc_id")
    p.set_defaults(fn=cmd_corpus_quality_score)

    p = sub.add_parser("vector-kmeans")
    p.add_argument("--vectors", required=True,
                   help="parquet with (id, embedding) rows")
    p.add_argument("--out", required=True,
                   help="output parquet for the (cell, centroid) model")
    p.add_argument("-k", type=int, default=8, dest="k")
    p.add_argument("--iters", type=int, default=3,
                   help="Lloyd iterations (max iterations for --metric l2)")
    p.add_argument("--metric", choices=["cosine", "l2"], default="cosine")
    p.add_argument("--assign-out", default="",
                   help="also write (id, cell, cosine) assignments here")
    p.add_argument("--condition", default="",
                   help="SQL predicate selecting the training rows")
    p.add_argument("--vec-col", default="embedding")
    p.add_argument("--id-col", default="vec_id")
    p.set_defaults(fn=cmd_vector_kmeans)

    p = sub.add_parser("vector-whiten")
    p.add_argument("--vectors", required=True,
                   help="parquet with (id, embedding) rows")
    p.add_argument("--out", required=True,
                   help="output parquet for (id, whitened) rows")
    p.add_argument("--model", default="",
                   help="also persist the (mu, W) model parquet here")
    p.add_argument("--components", type=int, default=None,
                   help="keep only the top-k principal directions")
    p.add_argument("--condition", default="")
    p.add_argument("--vec-col", default="embedding")
    p.add_argument("--id-col", default="vec_id")
    p.set_defaults(fn=cmd_vector_whiten)

    p = sub.add_parser("corpus-search")
    p.add_argument("--index-dir", required=True)
    p.add_argument("--query", default="",
                   help="BM25 query text (lexical mode)")
    p.add_argument("-k", type=int, default=10, dest="k")
    p.add_argument("--buckets", type=int, default=64)
    p.add_argument("--ann", action="store_true",
                   help="two-stage vector search (IVFADC shortlist + "
                        "exact re-rank) instead of BM25")
    p.add_argument("--hybrid", action="store_true",
                   help="fuse BM25 (--index-dir) and vector "
                        "(--ann-index) rankings by reciprocal rank")
    p.add_argument("--ann-index", default="",
                   help="[--hybrid] IVFADC index dir for the vector leg")
    p.add_argument("--vectors", default="",
                   help="[--ann] parquet holding the true vectors")
    p.add_argument("--query-id", type=int, default=None,
                   help="[--ann] id of the query vector in --vectors")
    p.add_argument("--nprobe", type=int, default=2,
                   help="[--ann] probed IVF cells per query")
    p.add_argument("--shortlist", type=int, default=50,
                   help="[--ann] ANN candidates before exact re-rank")
    p.add_argument("--vec-col", default="embedding")
    p.add_argument("--id-col", default="vec_id")
    p.set_defaults(fn=cmd_corpus_search)

    args = parser.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
