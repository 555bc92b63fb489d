"""RunStore declared schemas: one StructType per table, returned by every
read whatever files the store holds (the reference declares each app-DB
table once, template/dbsetup/030_initialize_new_schema_structure.sql)."""

import glob
import os

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F
from pyspark.sql import types as T

from conftest import SF_DIR
from dataops_testgen_spark.execution.cat import RESULT_SCHEMA, run_cat_tests
from dataops_testgen_spark.execution.defs import TestDef
from dataops_testgen_spark.execution.query_runner import run_query_tests
from dataops_testgen_spark.session import local_frame
from dataops_testgen_spark.store import SCHEMAS, TABLES, RunStore

RUN_DATE = "2026-01-01"
PARTITIONS = {"profile_results": "profile_run_id",
              "profile_anomaly_results": "profile_run_id",
              "test_definitions": "test_suite_key",
              "test_results": "test_run_id"}
# a run-monitors / seeded-history row: 9 result columns + the suite stamp
NARROW = ("test_id string, test_type string, table_name string, "
          "column_name string, result_status string, result_code int, "
          "result_message string, result_measure double, "
          "threshold_value string, test_run_id string, test_suite_key string")


def _fields(schema, drop=()):
    """(name, type) pairs, nullability aside: a file read makes every
    column nullable, a producer's frame need not."""
    return [(f.name, f.dataType.simpleString()) for f in schema.fields
            if f.name not in drop]


def _jobs(spark):
    return set(spark.sparkContext.statusTracker().getJobIdsForGroup(None))


def _parquet_files(path):
    return glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)


def test_every_table_declares_one_schema():
    assert set(SCHEMAS) == set(TABLES)
    for table, key in PARTITIONS.items():
        last = SCHEMAS[table].fields[-1]
        assert (last.name, last.dataType) == (key, T.StringType())


def _wide_run(spark, run_id):
    row = {f.name: None for f in RESULT_SCHEMA.fields}
    row.update(test_id="t1", test_type="Row_Ct", table_name="orders",
               test_operator="<", threshold_value="5", result_measure=9.0,
               result_code=0, result_status="Failed")
    return local_frame(
        spark, [(*row.values(), run_id, "suite")],
        T.StructType([*RESULT_SCHEMA.fields,
                      T.StructField("test_run_id", T.StringType()),
                      T.StructField("test_suite_key", T.StringType())]))


def _narrow_run(spark, run_id):
    return spark.createDataFrame(
        [("mon_volume_orders", "Volume_Trend", "orders", None, "Log", None,
          None, 1515.0, None, run_id, "suite_monitors")], NARROW)


def test_read_does_not_depend_on_file_order(spark, tmp_path):
    """run-tests and run-monitors write different column sets into
    test_results; either run's file may be listed first, and the read
    has every declared column either way."""
    for narrow_first in (True, False):
        rs = RunStore(spark, str(tmp_path / f"store_{narrow_first}"))
        ids = ("a-run", "b-run") if narrow_first else ("b-run", "a-run")
        rs.append("test_results", _narrow_run(spark, ids[0]),
                  partition_by="test_run_id")
        rs.append("test_results", _wide_run(spark, ids[1]),
                  partition_by="test_run_id")
        res = rs.read("test_results")
        rows = {r["test_suite_key"]: r.asDict() for r in res.collect()}
        assert rows["suite"].get("test_operator") == "<", narrow_first
        assert rows["suite"]["result_code"] == 0
        assert rows["suite_monitors"].get("result_measure_str", 0) is None
        assert rows["suite_monitors"]["result_measure"] == 1515.0
        assert _fields(res.schema) == _fields(SCHEMAS["test_results"])


def test_read_submits_no_job(spark, tmp_path):
    """Every table reads with its declared schema and without a Spark job,
    whether the store has never seen it or holds its files."""
    empty = RunStore(spark, str(tmp_path / "empty"))
    full = RunStore(spark, str(tmp_path / "full"))
    for table, schema in SCHEMAS.items():
        row = tuple("x" if f.name == PARTITIONS.get(table) else None
                    for f in schema.fields)
        full.append(table, local_frame(spark, [row], schema),
                    partition_by=PARTITIONS.get(table))
    for rs in (empty, full):
        before = _jobs(spark)
        frames = {t: rs.read(t) for t in TABLES}
        assert _jobs(spark) == before
        for t, df in frames.items():
            assert _fields(df.schema) == _fields(SCHEMAS[t]), t
    assert all(not empty.read(t).collect() for t in TABLES)
    assert all(len(full.read(t).collect()) == 1 for t in TABLES)


def test_bucketed_table_takes_every_writer(spark, tmp_path):
    """A bucketed store's test_results takes a monitor run's narrower rows
    and a test run's rows in either order, and a later session registers
    the files from the declared schema, with no job."""
    rs = RunStore(spark, str(tmp_path / "store"), bucket_results=2)
    narrow = _narrow_run(spark, "x").drop("test_run_id", "test_suite_key")
    wide = _wide_run(spark, "x").drop("test_run_id", "test_suite_key")
    rs.record_test_run(narrow, "suite_monitors", RUN_DATE)
    rs.record_test_run(wide, "suite", RUN_DATE)
    # a new session has no catalog entry for the files
    spark.sql(f"DROP TABLE {rs._catalog_name('test_results')}")
    before = _jobs(spark)
    res = RunStore(spark, rs.root).read("test_results")
    assert _jobs(spark) == before
    assert _fields(res.schema) == _fields(SCHEMAS["test_results"])
    assert sorted((r["test_suite_key"], r["test_operator"])
                  for r in res.collect()) == [("suite", "<"),
                                              ("suite_monitors", None)]


def test_producer_schemas_match_store_declarations(spark):
    """What the profiler + inference, the anomaly screen, generation and
    execution produce is exactly what the store declares (less its
    stamps), so a new column fails here instead of vanishing on read."""
    from dataops_testgen_spark.anomalies import screen_anomalies
    from dataops_testgen_spark.generation import generate_selection_tests
    from dataops_testgen_spark.generation.selection import to_test_defs
    from dataops_testgen_spark.generation.templates import (
        generate_freshness_trend_tests, generate_table_tests)
    from dataops_testgen_spark.inference import apply_inference
    from dataops_testgen_spark.io.loaders import load_table
    from dataops_testgen_spark.profiling.profiler import profile_tables

    tables = {"orders": load_table(spark, SF_DIR, "orders")}
    inferred = apply_inference(profile_tables(tables, run_date=RUN_DATE))
    assert _fields(inferred.schema) == _fields(
        SCHEMAS["profile_results"], drop=("profile_run_id",))
    assert _fields(screen_anomalies(inferred, tables=tables).schema) == (
        _fields(SCHEMAS["profile_anomaly_results"],
                drop=("profile_run_id",)))
    defs = _fields(SCHEMAS["test_definitions"],
                   drop=("profiling_as_of_date", "test_suite_key"))
    gen = generate_selection_tests(inferred)
    assert _fields(gen.schema) == defs
    monitors = generate_table_tests(inferred).unionByName(
        generate_freshness_trend_tests(inferred), allowMissingColumns=True)
    assert _fields(monitors.schema) == defs
    results = run_cat_tests(tables, to_test_defs(gen), run_date=RUN_DATE)
    assert _fields(results.schema) == _fields(
        SCHEMAS["test_results"], drop=("test_suite_key", "test_run_id"))


def test_test_results_are_driver_local(spark):
    """Both engines return their results as driver-local rows: showing and
    collecting them (run-tests does both) runs no Spark job."""
    df = spark.createDataFrame([(1, 2.0), (2, None)], "id long, v double")
    cat = run_cat_tests({"t": df}, [
        TestDef("t_rows", "Row_Ct", "t", params={"threshold_value": 1}),
        TestDef("t_req", "Required", "t", "v",
                params={"threshold_value": 0})], run_date=RUN_DATE)
    query = run_query_tests({"t": df}, [
        TestDef("t_sql", "CUSTOM", "t", params={
            "custom_query": "SELECT * FROM t WHERE v IS NULL",
            "threshold_value": 0})], run_date=RUN_DATE)
    before = _jobs(spark)
    for res in (cat, query):
        res.show()
        assert res.collect()
    assert _jobs(spark) == before


def test_each_recorded_run_writes_one_file(spark, tmp_path):
    """A recorded test run or profiling run writes one parquet file per
    table, whatever the partitioning of the frames it was handed."""
    rs = RunStore(spark, str(tmp_path / "store"))
    results = spark.createDataFrame(
        [(f"t{i}", "Row_Ct", "orders", None, "<", "5", float(i), None, 1,
          "Passed", None) for i in range(8)], RESULT_SCHEMA).repartition(3)
    run_id = rs.record_test_run(results, "suite", RUN_DATE)
    assert len(_parquet_files(os.path.join(
        rs.root, "test_results", f"test_run_id={run_id}"))) == 1

    def frame(schema, n):
        rows = [tuple(f"v{i}" if isinstance(f.dataType, T.StringType)
                      else None for f in schema.fields) for i in range(n)]
        return spark.createDataFrame(rows, schema).repartition(3)

    drop = ("profile_run_id",)
    inferred = frame(T.StructType([f for f in SCHEMAS["profile_results"]
                                   if f.name not in drop]), 6)
    anomalies = frame(T.StructType(
        [f for f in SCHEMAS["profile_anomaly_results"]
         if f.name not in drop]), 6)
    run_id = rs.record_profile_run(inferred, anomalies, "tg", RUN_DATE)
    for table in ("profile_results", "profile_anomaly_results"):
        assert len(_parquet_files(os.path.join(
            rs.root, table, f"profile_run_id={run_id}"))) == 1, table


# -- a store as the parent layout left it, written with pyarrow ------------

def _write(root, rel, rows, schema, name="part-00000.parquet"):
    path = os.path.join(root, rel)
    os.makedirs(path, exist_ok=True)
    pq.write_table(pa.Table.from_pylist(rows, schema=schema),
                   os.path.join(path, name))


def _legacy_store(root):
    """Headers in several files (one without input_key), profile rows
    without the later sketch carriers split over two files, a run-tests
    test run and a 9-column monitor run (as perfbench seeds them) in
    test_results, and no score tables at all."""
    s = pa.string()
    hdr = pa.schema([(n, s) for n in (
        "profile_run_id", "project_key", "table_groups_id", "start_time",
        "run_date", "status")])
    _write(root, "profiling_runs", [dict(
        profile_run_id="p0", project_key="DEFAULT", table_groups_id="tg",
        start_time="2026-01-01T00:00:00", run_date=RUN_DATE,
        status="Complete")], hdr)
    _write(root, "profiling_runs", [dict(
        profile_run_id="p1", project_key="DEFAULT", table_groups_id="tg",
        start_time="2026-01-02T00:00:00", run_date="2026-01-02",
        status="Complete", input_key=None)],
        hdr.append(pa.field("input_key", s)), name="part-00001.parquet")
    prof = pa.schema([
        ("table_name", s), ("column_name", s),
        ("ordinal_position", pa.int32()), ("column_type", s),
        ("general_type", s), ("run_date", s), ("record_ct", pa.int64()),
        ("value_ct", pa.int64()), ("null_value_ct", pa.int64()),
        ("distinct_value_ct", pa.int64()), ("std_pattern_match", s),
        ("min_date", pa.timestamp("us", tz="UTC")),
        ("functional_data_type", s)])
    for i, (col, ftype) in enumerate((("o_id", "ID-Unique"),
                                      ("o_status", "Code"))):
        _write(root, "profile_results/profile_run_id=p1", [dict(
            table_name="orders", column_name=col, ordinal_position=i + 1,
            column_type="bigint" if i == 0 else "string",
            general_type="N" if i == 0 else "A", run_date="2026-01-02",
            record_ct=10, value_ct=10, null_value_ct=0,
            distinct_value_ct=10 - 7 * i, std_pattern_match=None,
            min_date=None, functional_data_type=ftype)], prof,
            name=f"part-0000{i}.parquet")
    anom = pa.schema([(n, s) for n in (
        "table_name", "column_name", "anomaly_type", "data_object",
        "likelihood", "detail")] + [("dq_prevalence", pa.float64())])
    _write(root, "profile_anomaly_results/profile_run_id=p1", [dict(
        table_name="orders", column_name="o_status",
        anomaly_type="Char_Column_Number_Values", data_object="Column",
        likelihood="Likely", detail="3 values", dq_prevalence=0.1)], anom)
    _write(root, "test_suites", [dict(
        test_suite_id="ts1", project_key="DEFAULT", test_suite_key="s")],
        pa.schema([(n, s) for n in ("test_suite_id", "project_key",
                                    "test_suite_key")]))
    defs = pa.schema([(n, s) for n in (
        "test_type", "table_name", "column_name", "test_active",
        "last_auto_gen_date")] + [("params", pa.map_(s, s)),
                                   ("profiling_as_of_date", s)])
    _write(root, "test_definitions/test_suite_key=s", [
        dict(test_type=t, table_name="orders", column_name=c,
             test_active="Y", last_auto_gen_date="2026-01-02T01:00:00",
             params=[("threshold_value", "0")],
             profiling_as_of_date="2026-01-02")
        for t, c in (("Unique", "o_id"), ("Required", "o_status"))], defs)
    runs = pa.schema([(n, s) for n in (
        "test_run_id", "project_key", "test_suite_key", "test_starttime",
        "run_date", "status")])
    for i, (run, suite) in enumerate((("r1", "s"),
                                      ("seed-000", "s_monitors"))):
        _write(root, "test_runs", [dict(
            test_run_id=run, project_key="DEFAULT", test_suite_key=suite,
            test_starttime=f"2026-01-02T0{i + 2}:00:00",
            run_date="2026-01-02", status="Complete")], runs,
            name=f"part-0000{i}.parquet")
    wide = pa.schema([
        ("test_id", s), ("test_type", s), ("table_name", s),
        ("column_name", s), ("test_operator", s), ("threshold_value", s),
        ("result_measure", pa.float64()), ("result_measure_str", s),
        ("result_code", pa.int32()), ("result_status", s),
        ("result_message", s), ("test_suite_key", s)])
    for i, (t, c, code) in enumerate((("Unique", "o_id", 1),
                                      ("Required", "o_status", 0))):
        _write(root, "test_results/test_run_id=r1", [dict(
            test_id=f"t{i}", test_type=t, table_name="orders",
            column_name=c, test_operator=">", threshold_value="0",
            result_measure=float(i), result_measure_str=None,
            result_code=code, result_status="Passed" if code else "Failed",
            result_message=None if code else "1 null",
            test_suite_key="s")], wide, name=f"part-0000{i}.parquet")
    narrow = pa.schema([
        ("test_id", s), ("test_type", s), ("table_name", s),
        ("column_name", s), ("result_status", s),
        ("result_code", pa.int32()), ("result_message", s),
        ("result_measure", pa.float64()), ("threshold_value", s),
        ("test_suite_key", s)])
    _write(root, "test_results/test_run_id=seed-000", [dict(
        test_id="mon_volume_orders", test_type="Volume_Trend",
        table_name="orders", column_name=None, result_status="Log",
        result_code=None, result_message=None, result_measure=10.0,
        threshold_value=None, test_suite_key="s_monitors")], narrow)


def _rows(df):
    return [tuple(r) for r in df.collect()]


def test_legacy_layout_store_reads(spark, tmp_path):
    """A store written before the declarations (narrower files, several
    files per run, tables never written) reads with every declared column
    and gives the entity outputs its rows imply."""
    root = str(tmp_path / "store")
    _legacy_store(root)
    rs = RunStore(spark, root)
    for t in TABLES:
        assert _fields(rs.read(t).schema) == _fields(SCHEMAS[t]), t
    assert _rows(rs.list_profiles()) == [
        ("p1", "DEFAULT", "tg", "2026-01-02T00:00:00", "Complete", 1, 2)]
    assert _rows(rs.profile_info("p1")) == [
        ("p1", "2026-01-02", "orders", "o_id", "N", "bigint", "ID-Unique"),
        ("p1", "2026-01-02", "orders", "o_status", "A", "string", "Code")]
    assert [r[:3] for r in _rows(rs.diff_profiles())] == [
        ("orders", "o_id", "added"), ("orders", "o_status", "added")]
    assert _rows(rs.profile_anomalies("p1")) == [
        ("orders", "o_status", "Char_Column_Number_Values", "3 values",
         "Likely")]
    assert _rows(rs.list_test_generation("s")) == [
        ("s", "2026-01-02T01:00:00", "2026-01-02", 1, 2, 2)]
    assert [(r["test_type"], r["column_name"], r["threshold_value"])
            for r in rs.test_info("s").collect()] == [
        ("Unique", "o_id", None), ("Required", "o_status", None)]
    assert _rows(rs.list_test_runs("s")) == [
        ("s", "2026-01-02T02:00:00", "Complete", "r1", 1, 2, 1)]
    assert _rows(rs.list_test_runs("s_monitors")) == [
        ("s_monitors", "2026-01-02T03:00:00", "Complete", "seed-000", 1, 1,
         None)]
    assert [r[3:6] for r in _rows(rs.test_results_for_run("r1"))] == [
        ("Unique", "Passed", ""), ("Required", "Failed", "1 null")]
    assert _rows(rs.test_results_for_run("seed-000")) == [
        ("s_monitors", "orders", None, "Volume_Trend", "Log", "", 10.0,
         "Row count")]
    assert _rows(rs.list_test_suites()) == [("ts1", "DEFAULT", "s", 2)]
    assert _rows(rs.list_table_groups()) == [
        ("tg", "DEFAULT", 2, "2026-01-02T00:00:00")]
    mon = rs.read("test_results").filter(F.col("test_run_id") == "seed-000")
    assert mon.first()["test_operator"] is None
