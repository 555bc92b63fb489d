"""Golden-value tests for the semantic-inference cascade (SURVEY §2.3).

Fixture columns are engineered so each one deterministically triggers a
specific rule of `functional_datatype.sql` / `pii_flag.sql` /
`datatype_suggestions.sql`; the expected value IS the reference semantics.
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from dataops_testgen_spark.inference import apply_inference
from dataops_testgen_spark.inference.functional_type import infer_table_types
from dataops_testgen_spark.profiling.profiler import profile_table, profile_tables

RUN_DATE = "2026-08-01"


def _profile_and_infer(spark, rows, schema, table_name="fixture"):
    df = spark.createDataFrame(rows, schema)
    prof = profile_table(df, table_name, run_date=RUN_DATE)
    return apply_inference(prof)


@pytest.fixture(scope="module")
def entity_inferred(spark):
    """A customer-entity-like fixture covering the headline alpha rules."""
    n = 600
    rows = []
    for i in range(n):
        rows.append((
            i,                                   # row_id  → ID-Unique (int, %id mask)
            f"CUST{i:05d}",                      # cust_id → ID (alpha, unique, no spaces)
            f"Emp Name {i % 580}",               # emp_name → Person Full Name
            ["Automobile Parts", "Building Materials", "Household Goods Etc",
             "Machinery Equipment"][i % 4],       # segment → Category (len ≥ 15)
            ["A1", "B2", "C3"][i % 3],           # code3 → Code
            f"user{i}@example.com",              # email_addr → Email
            f"{100 + i} Main St",                # street_address → Address
            ["Aberdeen", "Bartlett", "Chandler", "Davenport", "Edmonton",
             "Fairfield", "Glendale", "Hartford", "Irvington", "Jamestown",
             "Kirkland", "Lakewood", "Madisonia", "Nashville", "Oakland",
             "Pasadena", "Quantico", "Richmond", "Syracuse", "Torrance"][i % 20],
            # city_name (before state) → City via positional rule 2
            ["CA", "NY", "TX", "WA"][i % 4],     # state → State
            f"{90000 + (i % 100):05d}",          # zip → Zip
            ["Y", "N"][i % 2],                   # active_flag → Boolean
            ["RED", "BLU", "GRN", "YEL"][i % 4],  # color_cd → Flag? (distinct 4, len 3)
            2000 + (i % 25),                     # fiscal_year → Period Year
            (i % 12) + 1,                        # month_no → Period Month
            float(i % 97) * 1.37,                # amt → Measurement
            "FIXED",                             # const_col → Constant
        ))
    schema = ("row_id long, cust_id string, emp_name string, segment string,"
              " code3 string, email_addr string, street_address string,"
              " city_name string, state string, zip string, active_flag string,"
              " color_cd string, fiscal_year long, month_no long, amt double,"
              " const_col string")
    out = _profile_and_infer(spark, rows, schema)
    return {r["column_name"]: r for r in out.collect()}


def test_id_rules(entity_inferred):
    assert entity_inferred["row_id"]["functional_data_type"] == "ID-Unique"
    assert entity_inferred["cust_id"]["functional_data_type"] == "ID-Unique"


def test_category_code(entity_inferred):
    assert entity_inferred["segment"]["functional_data_type"] == "Category"
    assert entity_inferred["code3"]["functional_data_type"] == "Code"


def test_address_block(entity_inferred):
    assert entity_inferred["email_addr"]["functional_data_type"] == "Email"
    assert entity_inferred["street_address"]["functional_data_type"] == "Address"
    assert entity_inferred["state"]["functional_data_type"] == "State"
    assert entity_inferred["zip"]["functional_data_type"] == "Zip"


def test_city_positional(entity_inferred):
    # city_name precedes state; positional City rule 2 (:511-528)
    assert entity_inferred["city_name"]["functional_data_type"] == "City"


def test_name_boolean_constant(entity_inferred):
    assert entity_inferred["emp_name"]["functional_data_type"] == "Person Full Name"
    assert entity_inferred["active_flag"]["functional_data_type"] == "Boolean"
    assert entity_inferred["const_col"]["functional_data_type"] == "Constant"


def test_periods_and_measurement(entity_inferred):
    assert entity_inferred["fiscal_year"]["functional_data_type"] == "Period Year"
    assert entity_inferred["month_no"]["functional_data_type"] == "Period Month"
    assert entity_inferred["amt"]["functional_data_type"] == "Measurement"


def test_pii_screens(entity_inferred):
    assert entity_inferred["emp_name"]["pii_flag"] == "B/NAME/Individual"
    # secondary screen fires because the table has >1 primary hit? name is the
    # only primary hit here, so contact fields stay unflagged unless >1.
    primary_hits = [r for r in entity_inferred.values() if r["pii_flag"]]
    if len([r for r in entity_inferred.values()
            if r["pii_flag"] in ("B/NAME/Individual",)]) > 1:
        assert entity_inferred["email_addr"]["pii_flag"] == "B/CONTACT/Email"
    assert primary_hits  # at least the name column


def test_summary_table_type(entity_inferred):
    # ID+Category present AND Period+Measurement present → summary precedence
    # (functional_tabletype_stage.sql:37-45); single run → cumulative
    assert entity_inferred["state"]["functional_table_type"] == "cumulative-summary"


def test_entity_table_type(spark):
    # names + >1 of Address/City/State, no periods/measures → entity (:49-51)
    rows = [(f"Emp Name {i}", f"{i} Main St", ["CA", "NY", "TX", "WA"][i % 4],
             f"{90000 + i % 60:05d}") for i in range(400)]
    out = _profile_and_infer(
        spark, rows,
        "emp_name string, street_address string, state string, zip string",
        "entity_fix")
    row = out.collect()[0]
    assert row["functional_table_type"] == "cumulative-entity"


def test_datatype_suggestion_varchar(entity_inferred):
    sugg = entity_inferred["segment"]["datatype_suggestion"]
    assert sugg.startswith("VARCHAR(")
    assert entity_inferred["amt"]["datatype_suggestion"] == "double"


@pytest.fixture(scope="module")
def dates_inferred(spark):
    base = dt.date(2026, 8, 1)
    n = 400
    rows = []
    for i in range(n):
        rows.append((
            base - dt.timedelta(days=i % 300),            # txn_date → Transactional Date
            base - dt.timedelta(days=365 * 30 + i),       # birth_date → Historical Date
            base + dt.timedelta(days=30 + (i % 200)),     # sched_date → Schedule/Future
            dt.datetime(2026, 7, 1, 12, 0, 0) + dt.timedelta(hours=i),
            # created_dt → matches process-timestamp name regex → 'Process …'
        ))
    schema = "txn_date date, birth_date date, sched_date date, created_dt timestamp"
    out = _profile_and_infer(spark, rows, schema, "dates_fixture")
    return {r["column_name"]: r for r in out.collect()}


def test_transactional_date(dates_inferred):
    assert dates_inferred["txn_date"]["functional_data_type"] == "Transactional Date"


def test_historical_date(dates_inferred):
    assert dates_inferred["birth_date"]["functional_data_type"] == "Historical Date"


def test_future_date(dates_inferred):
    assert dates_inferred["sched_date"]["functional_data_type"] == "Future Date"


def test_process_timestamp(dates_inferred):
    # created_dt matches the process-timestamp name regex → 'Process <class>'
    assert dates_inferred["created_dt"]["functional_data_type"].startswith("Process ")


def test_tbd_and_unknown(spark):
    rows = [(None, "x") for _ in range(3)]
    out = _profile_and_infer(spark, rows, "empty_col string, tiny string", "tbd_fix")
    vals = {r["column_name"]: r["functional_data_type"] for r in out.collect()}
    assert vals["empty_col"] == "TBD (Not enough data)"
    assert vals["tiny"] == "TBD (Not enough data)"


def test_sequence_and_id_numeric(spark):
    rows = [(i + 1, i + 100, float(i)) for i in range(300)]
    out = _profile_and_infer(spark, rows,
                             "seq_plain long, order_no long, meas double", "seq_fix")
    vals = {r["column_name"]: r["functional_data_type"] for r in out.collect()}
    # max-min+1 == distinct and fractional_sum NULL (non-decimal) → Sequence
    assert vals["seq_plain"] == "Sequence"
    assert vals["order_no"] == "Sequence"  # also consecutive; Sequence wins first


def test_id_fk_cross_table(spark):
    dim = spark.createDataFrame([(i, f"n{i}") for i in range(100)],
                                "part_id long, name string")
    fact = spark.createDataFrame([(i % 100, i) for i in range(500)],
                                 "part_id long, qty long")
    p1 = profile_table(dim, "dim_part", run_date=RUN_DATE)
    p2 = profile_table(fact, "fact_qty", run_date=RUN_DATE)
    out = apply_inference(p1.unionByName(p2))
    vals = {(r["table_name"], r["column_name"]): r["functional_data_type"]
            for r in out.collect()}
    assert vals[("dim_part", "part_id")] == "ID-Unique"
    assert vals[("fact_qty", "part_id")] == "ID-FK"


def test_table_period_window_vs_cumulative(spark):
    df1 = spark.createDataFrame([(i,) for i in range(100)], "v long")
    p_old = profile_table(df1, "t", run_date="2026-07-01")
    df2 = spark.createDataFrame([(i,) for i in range(50)], "v long")
    p_new = profile_table(df2, "t", run_date=RUN_DATE)
    inferred = apply_inference(p_new)
    tt = infer_table_types(
        inferred, history=apply_inference(p_old)).collect()[0]
    assert tt["table_period"] == "window"  # count decreased

    tt2 = infer_table_types(inferred).collect()[0]
    assert tt2["table_period"] == "cumulative"


_CITIES = ["Aberdeen", "Bartlett", "Chandler", "Davenport", "Edmonton",
           "Fairfield", "Glendale", "Hartford", "Irvington", "Jamestown",
           "Kirkland", "Lakewood", "Madisonia", "Nashville", "Oakland",
           "Pasadena", "Quantico", "Richmond", "Syracuse", "Torrance"]


def test_positional_city_respects_ordinal_gaps(spark):
    """Positional City (:511-528) looks at ordinal_position + 1, not at the
    next profiled row: with the column between city_name and state left out
    of the profile, state sits two positions on and city_name is no City."""
    rows = [(_CITIES[i % 20], f"note {i}", ["CA", "NY", "TX", "WA"][i % 4],
             f"{90000 + i % 100:05d}") for i in range(600)]
    full = spark.createDataFrame(
        rows, "city_name string, note string, state string, zip string")
    prof = profile_tables({"contiguous": full.drop("note"), "gapped": full},
                          run_date=RUN_DATE,
                          columns=["city_name", "state", "zip"])
    got = {(r["table_name"], r["column_name"]):
           (r["ordinal_position"], r["functional_data_type"])
           for r in apply_inference(prof).collect()}
    assert got[("contiguous", "city_name")] == (1, "City")
    assert got[("gapped", "state")] == (3, "State")
    assert got[("gapped", "city_name")][0] == 1
    assert got[("gapped", "city_name")][1] != "City"


def test_apply_inference_is_one_job(spark):
    """The whole chain over a collected profile is one plan: one Spark job
    per call, and a one-partition result (one file per store write)."""
    a = spark.createDataFrame([(i, f"A{i % 7}", float(i)) for i in range(300)],
                              "a_id long, a_code string, a_amt double")
    b = spark.createDataFrame([(i % 300, f"{i} Main St") for i in range(900)],
                              "a_id long, street_address string")
    prof = profile_tables({"a": a, "b": b}, run_date=RUN_DATE)
    sc = spark.sparkContext
    group = "test_apply_inference_is_one_job"
    sc.setJobGroup(group, group)
    try:
        out = apply_inference(prof)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
    assert out.rdd.getNumPartitions() == 1
    vals = {(r["table_name"], r["column_name"]): r["functional_data_type"]
            for r in out.collect()}
    assert vals[("a", "a_id")] == "ID-Unique"
    assert vals[("b", "a_id")] == "ID-FK"


def test_inference_on_real_tables(spark, sf_dir):
    """Smoke: inference runs end-to-end over TPC-H-ish tables, no nulls left."""
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    prof = profile_table(cust, "customer", run_date=RUN_DATE)
    out = apply_inference(prof)
    rows = out.collect()
    assert all(r["functional_data_type"] is not None for r in rows)
    assert all(r["functional_table_type"] is not None for r in rows)
    assert all(r["datatype_suggestion"] is not None for r in rows)
    vals = {r["column_name"]: r["functional_data_type"] for r in rows}
    assert vals["c_custkey"] in ("ID-Unique", "Sequence")
    assert vals["c_mktsegment"] in ("Category", "Code")
