"""CAT (Consolidated Aggregate Test) engine — the reference's signature
operator, Spark-first.

Reference: tests on the same table are string-concatenated into one SELECT so
one scan evaluates dozens of tests
(`/root/reference/testgen/commands/queries/execute_tests_query.py:454-502`,
batching `:125-173`, measures per type in
`template/dbsetup_test_types/*.yaml` cat_test_conditions).  Here each test
type is a ``Column``-builder; tests are grouped per (table, subset_condition)
and fused into ONE typed ``df.agg`` — no char budget, no string packing, no
'<NULL>|' sentinels.  Failed batches fall back to per-test execution
(`run_test_execution.py:301-352` semantics).

Every measure is a built-in JVM aggregate; conditions are evaluated
driver-side on the single collected row.
"""

from __future__ import annotations

import datetime as _dt

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dataops_testgen_spark.execution.defs import (TestDef, evaluate_condition,
                                                  result_status)
from dataops_testgen_spark.profiling.regexes import EMAIL_RE
from dataops_testgen_spark.session import local_frame, pool_map

# test_types_US_State.yaml measure IN-list (61 codes incl. military/territory).
US_STATES = [
    "AL", "AK", "AS", "AZ", "AR", "CA", "CO", "CT", "DE", "DC", "FM", "FL",
    "GA", "GU", "HI", "ID", "IL", "IN", "IA", "KS", "KY", "LA", "ME", "MH",
    "MD", "MA", "MI", "MN", "MS", "MO", "MT", "NE", "NV", "NH", "NJ", "NM",
    "NY", "NC", "ND", "MP", "OH", "OK", "OR", "PW", "PA", "PR", "RI", "SC",
    "SD", "TN", "TX", "UT", "VT", "VI", "VA", "WA", "WV", "WI", "WY", "AE",
    "AP", "AA",
]

STREET_ADDR_RE = (
    r"^[0-9]{1,5}[a-zA-Z]?\s\w{1,5}\.?\s?\w*\s?\w*\s[a-zA-Z]{1,6}\.?\s?"
    r"[0-9]{0,5}[A-Z]{0,1}$"
)

# Non-printing set of test_types_Valid_Characters.yaml (CHR 160/8203/65279/
# 8239/8201/12288/8204).
_VALID_CHARS_BAD = "".join(chr(c) for c in (160, 8203, 65279, 8239, 8201, 12288, 8204))

# Monday-anchored week epoch for Weekly_Rec_Ct: the reference counts
# DATEDIFF_WEEK boundaries from 1800-01-01; we use integer weeks since
# Monday 1800-01-06, identical across Spark and DuckDB.
WEEK_EPOCH = "1800-01-06"


def _when_ct(cond: Column) -> Column:
    return F.sum(F.when(cond, 1).otherwise(0)).cast("long")


def _mon_index(c: Column) -> Column:
    d = F.to_date(c)
    return F.year(d) * 12 + F.month(d)


def _week_index(c: Column) -> Column:
    return F.floor(F.datediff(F.to_date(c), F.lit(WEEK_EPOCH).cast("date")) / 7)


def cat_measure(td: TestDef, run_date: _dt.date) -> Column:
    """Aggregate measure Column for one test definition.

    Docstring citations per type refer to
    template/dbsetup_test_types/test_types_<type>.yaml (postgresql flavor).
    """
    t = td.test_type
    c = F.col(td.column_name) if td.column_name else None
    p = td.p
    rd = F.lit(run_date.isoformat()).cast("date")

    if t == "Alpha_Trunc":                       # MAX(LENGTH(col))
        return F.max(F.length(c)).cast("double")
    if t == "Avg_Shift":                         # Cohen's-d style shift
        n = F.count(c).cast("double")
        b_n = F.lit(float(p("baseline_value_ct")))
        b_avg = F.lit(float(p("baseline_avg")))
        b_sd = F.lit(float(p("baseline_sd")))
        pooled = ((n - 1) * F.pow(F.stddev_samp(c.cast("double")), 2)
                  + (b_n - 1) * F.pow(b_sd, 2)) / F.nullif(n + b_n, F.lit(0.0))
        return F.abs((F.avg(c.cast("double")) - b_avg) / F.sqrt(pooled))
    if t == "Condition_Flag":                    # SUM(CASE WHEN custom THEN 1 END)
        return _when_ct(F.expr(p("custom_query"))).cast("double")
    if t == "Constant":                          # values <> baseline
        return _when_ct(c != F.lit(p("baseline_value"))).cast("double")
    if t == "Daily_Record_Ct":                   # missing days
        d = F.to_date(c)
        return (F.datediff(F.max(d), F.min(d)) + 1
                - F.countDistinct(d)).cast("double")
    if t == "Dec_Trunc":                         # SUM(ROUND(ABS(col%1),5))+1
        return (F.sum(F.round(F.abs(c.cast("double") % 1), 5)) + 1)
    if t in ("Distinct_Date_Ct", "Distinct_Value_Ct"):
        return F.countDistinct(c).cast("double")
    if t == "Email_Format":                      # non-matching emails
        return _when_ct(~c.rlike(EMAIL_RE)).cast("double")
    if t == "Future_Date":
        return _when_ct(F.to_date(c) > rd).cast("double")
    if t == "Future_Date_1Y":
        return _when_ct(F.to_date(c) > F.date_add(rd, 365)).cast("double")
    if t == "Incr_Avg_Shift":                    # shift of increment average
        b_n = F.lit(float(p("baseline_value_ct")))
        b_sum = F.lit(float(p("baseline_sum")))
        b_avg = F.lit(float(p("baseline_avg")))
        b_sd = F.lit(float(p("baseline_sd")))
        incr_avg = (F.sum(c.cast("double")) - b_sum) / F.nullif(
            F.count(c).cast("double") - b_n, F.lit(0.0))
        return F.coalesce(F.abs((b_avg - incr_avg) / b_sd), F.lit(0.0))
    if t == "LOV_All":                           # STRING_AGG(DISTINCT ... '|')
        return F.concat_ws("|", F.array_sort(F.collect_set(c.cast("string"))))
    if t == "LOV_Match":                         # values NOT IN baseline list
        return _when_ct(~F.nullif(c, F.lit("")).isin(list(p("baseline_value")))
                        ).cast("double")
    if t in ("Metric_Trend", "Volume_Trend"):    # {CUSTOM_QUERY} aggregate
        q = p("custom_query")
        if q:
            return F.expr(q).cast("double")
        subset = p("subset_condition", "1=1")
        return _when_ct(F.expr(subset)).cast("double")
    if t == "Min_Date":
        return _when_ct(F.to_date(c) < F.lit(str(p("baseline_value"))[:10]).cast("date")
                        ).cast("double")
    if t == "Min_Val":
        return _when_ct(c.cast("double") < float(p("baseline_value")) - 1e-6
                        ).cast("double")
    if t == "Missing_Pct":                       # 2-sample arcsine drift
        b_ct = F.lit(float(p("baseline_ct")))
        b_vct = F.lit(float(p("baseline_value_ct")))
        return F.abs(2.0 * F.asin(F.sqrt(b_vct / b_ct))
                     - 2.0 * F.asin(F.sqrt(F.count(c).cast("double")
                                           / F.nullif(F.count(F.lit(1)).cast("double"),
                                                      F.lit(0.0)))))
    if t == "Monthly_Rec_Ct":                    # missing months
        m = _mon_index(c)
        return (F.max(m) - F.min(m) + 1 - F.countDistinct(m)).cast("double")
    if t == "Weekly_Rec_Ct":                     # missing weeks
        w = _week_index(c)
        return (F.max(w) - F.min(w) + 1 - F.countDistinct(w)).cast("double")
    if t in ("Outlier_Pct_Above", "Outlier_Pct_Below"):
        b_avg = float(p("baseline_avg"))
        b_sd = float(p("baseline_sd"))
        bound = b_avg + 2.0 * b_sd if t.endswith("Above") else b_avg - 2.0 * b_sd
        cond = c.cast("double") > bound if t.endswith("Above") else c.cast("double") < bound
        return (_when_ct(cond).cast("double")
                / F.nullif(F.count(c).cast("double"), F.lit(0.0)))
    if t == "Pattern_Match":                     # non-matching against regex
        nn = F.nullif(c, F.lit(""))
        return (F.count(nn) - _when_ct(nn.rlike(str(p("baseline_value"))))
                ).cast("double")
    if t == "Recency":                           # days since max date
        return F.datediff(rd, F.max(F.to_date(c))).cast("double")
    if t == "Required":                          # new nulls
        return (F.count(F.lit(1)) - F.count(c)).cast("double")
    if t == "Row_Ct":
        return F.count(F.lit(1)).cast("double")
    if t == "Row_Ct_Pct":
        b = F.lit(float(p("baseline_ct")))
        return F.abs(F.round(100.0 * (F.count(F.lit(1)) - b) / b, 2))
    if t == "Street_Addr_Pattern":               # % matching street shape
        return (100.0 * _when_ct(c.rlike(STREET_ADDR_RE)).cast("double")
                / F.nullif(F.count(c).cast("double"), F.lit(0.0)))
    if t == "US_State":
        return _when_ct(~F.nullif(c, F.lit("")).isin(US_STATES)).cast("double")
    if t == "Unique":
        return (F.count(F.lit(1)) - F.countDistinct(c)).cast("double")
    if t == "Unique_Pct":                        # arcsine drift of distinct ratio
        b_vct = F.lit(float(p("baseline_value_ct")))
        b_uct = F.lit(float(p("baseline_unique_ct")))
        return F.abs(2.0 * F.asin(F.sqrt(b_uct / b_vct))
                     - 2.0 * F.asin(F.sqrt(F.countDistinct(c).cast("double")
                                           / F.nullif(F.count(c).cast("double"),
                                                      F.lit(0.0)))))
    if t == "Valid_Characters":
        bad = (F.translate(c, _VALID_CHARS_BAD, "X" * len(_VALID_CHARS_BAD)) != c)
        return _when_ct(bad | c.startswith(" ")
                        | (c.rlike("^'.*'$")) | (c.rlike('^".*"$'))).cast("double")
    if t == "Valid_Month":
        return _when_ct(~F.nullif(c, F.lit("")).isin(list(p("baseline_value")))
                        ).cast("double")
    if t == "Valid_US_Zip":
        z = F.translate(c, "012345678", "999999999")
        return _when_ct(~z.isin(["99999", "999999999", "99999-9999"])).cast("double")
    if t == "Valid_US_Zip3":
        return _when_ct(F.translate(c, "012345678", "999999999") != "999").cast("double")
    if t in ("Variability_Increase", "Variability_Decrease"):
        return 100.0 * F.stddev_samp(c.cast("double")) / F.lit(float(p("baseline_sd")))
    raise ValueError(f"not a CAT test type: {t!r}")


# Operator + which params feed the condition, from the YAML catalog.
CAT_OPERATORS: dict[str, str] = {
    "Alpha_Trunc": "<", "Avg_Shift": ">=", "Condition_Flag": ">",
    "Constant": ">", "Daily_Record_Ct": ">", "Dec_Trunc": "<",
    "Distinct_Date_Ct": "<", "Distinct_Value_Ct": "<>", "Email_Format": ">",
    "Future_Date": ">", "Future_Date_1Y": ">", "Incr_Avg_Shift": ">=",
    "LOV_All": "<>", "LOV_Match": ">", "Metric_Trend": "NOT BETWEEN",
    "Min_Date": ">", "Min_Val": ">", "Missing_Pct": ">=",
    "Monthly_Rec_Ct": ">", "Outlier_Pct_Above": ">", "Outlier_Pct_Below": ">",
    "Pattern_Match": ">", "Recency": ">", "Required": ">", "Row_Ct": "<",
    "Row_Ct_Pct": ">", "Street_Addr_Pattern": "<", "US_State": ">",
    "Unique": ">", "Unique_Pct": ">=", "Valid_Characters": ">",
    "Valid_Month": ">", "Valid_US_Zip": ">", "Valid_US_Zip3": ">",
    "Variability_Increase": ">", "Variability_Decrease": "<",
    "Volume_Trend": "NOT BETWEEN", "Weekly_Rec_Ct": ">",
}

# measure types whose expression carries an exact COUNT(DISTINCT …)
_DISTINCT_MEASURES = frozenset({
    "Daily_Record_Ct", "Weekly_Rec_Ct", "Monthly_Rec_Ct",
    "Distinct_Date_Ct", "Distinct_Value_Ct", "Unique", "Unique_Pct",
})

RESULT_SCHEMA = T.StructType([
    T.StructField("test_id", T.StringType()),
    T.StructField("test_type", T.StringType()),
    T.StructField("table_name", T.StringType()),
    T.StructField("column_name", T.StringType()),
    T.StructField("test_operator", T.StringType()),
    T.StructField("threshold_value", T.StringType()),
    T.StructField("result_measure", T.DoubleType()),
    T.StructField("result_measure_str", T.StringType()),
    T.StructField("result_code", T.IntegerType()),     # 1 pass, 0 fail
    T.StructField("result_status", T.StringType()),
    T.StructField("result_message", T.StringType()),
])


def _evaluate(td: TestDef, raw) -> dict:
    op = CAT_OPERATORS[td.test_type]
    threshold = td.p("threshold_value")
    lower, upper = td.p("lower_tolerance"), td.p("upper_tolerance")
    if isinstance(raw, str):
        measure_num, measure_str = None, raw
        failed = evaluate_condition(raw, op, threshold)
    else:
        measure_num = float(raw) if raw is not None else None
        measure_str = None
        thr = float(threshold) if threshold is not None else None
        failed = evaluate_condition(measure_num, op,
                                    thr,
                                    float(lower) if lower is not None else None,
                                    float(upper) if upper is not None else None)
    if failed is None:
        # Reference parity (execute_tests_query.py:108-122): the condition
        # is a SQL CASE WHEN measure <op> threshold THEN fail ELSE pass —
        # a NULL measure or threshold falls through to ELSE and PASSES
        # (e.g. Min_Val over an empty table). The one exception is a
        # monitor (NOT BETWEEN) with missing tolerances: that is the
        # PREDICT training window, recorded as the -1/Log sentinel.
        if op == "NOT BETWEEN" and (lower is None or upper is None):
            code, status = -1, "Log"
        else:
            code, status = 1, result_status(False, td.severity)
        return {
            "test_id": td.test_id,
            "test_type": td.test_type,
            "table_name": td.table_name,
            "column_name": td.column_name,
            "test_operator": op,
            "threshold_value": None if threshold is None else str(threshold),
            "result_measure": measure_num,
            "result_measure_str": measure_str,
            "result_code": code,
            "result_status": status,
            "result_message": None,
        }
    status = result_status(failed, td.severity)
    return {
        "test_id": td.test_id,
        "test_type": td.test_type,
        "table_name": td.table_name,
        "column_name": td.column_name,
        "test_operator": op,
        "threshold_value": None if threshold is None else str(threshold),
        "result_measure": measure_num,
        "result_measure_str": measure_str,
        "result_code": None if failed is None else int(not failed),
        "result_status": status,
        "result_message": None,
    }


def run_cat_tests(
    tables: dict[str, DataFrame],
    defs: list[TestDef],
    run_date: _dt.date | str | None = None,
) -> DataFrame:
    """Execute CAT tests: one fused agg per (table, subset_condition) batch,
    per-test fallback on batch error. Returns a test_results DataFrame."""
    if isinstance(run_date, str):
        run_date = _dt.date.fromisoformat(run_date)
    run_date = run_date or _dt.date.today()

    groups: dict[tuple[str, str], list[TestDef]] = {}
    for td in defs:
        key = (td.table_name, td.p("subset_condition", "1=1"))
        groups.setdefault(key, []).append(td)

    out_rows: list[dict] = []
    spark = None
    jobs: list[tuple[DataFrame, list[tuple[int, TestDef]]]] = []
    for (table_name, subset), batch in groups.items():
        if table_name not in tables:
            # A missing/renamed table fails only ITS tests, not the run
            # (reference isolates per-test failures the same way).
            for td in batch:
                rec = _evaluate(td, None)
                rec["result_code"] = None
                rec["result_status"] = "Error"
                rec["result_message"] = f"KeyError: table {table_name!r} not found"
                out_rows.append(rec)
            continue
        df = tables[table_name]
        spark = df.sparkSession
        if subset and subset != "1=1":
            df = df.filter(F.expr(subset))
        from dataops_testgen_spark.session import ensure_parallelism

        df = ensure_parallelism(df)
        # Exact COUNT(DISTINCT) aggregates force a Catalyst Expand of
        # every input row once per distinct group; fused with the other
        # measures, ALL of them re-evaluate on the expanded stream
        # (~(n_distinct+1)× the scan). Run distinct-bearing measures as
        # their own agg job so the main fused agg stays one codegen'd
        # hash pass (same split the profiler uses).
        plain = [(i, td) for i, td in enumerate(batch)
                 if td.test_type not in _DISTINCT_MEASURES]
        dist = [(i, td) for i, td in enumerate(batch)
                if td.test_type in _DISTINCT_MEASURES]
        for group in (plain, dist):
            if group:
                jobs.append((df, group))

    def _run_job(job: tuple[DataFrame, list[tuple[int, TestDef]]]) -> list[dict]:
        df, group = job
        rows: list[dict] = []
        try:
            exprs = [cat_measure(td, run_date).alias(f"t{i}") for i, td in group]
            res = df.agg(*exprs).collect()[0].asDict()
            for i, td in group:
                rows.append(_evaluate(td, res[f"t{i}"]))
        except Exception:
            # Error isolation: rerun singly so one bad test doesn't sink the
            # batch (run_test_execution.py:301-352).
            for _, td in group:
                try:
                    row = df.agg(cat_measure(td, run_date).alias("t0")).collect()[0]
                    rows.append(_evaluate(td, row["t0"]))
                except Exception as exc:  # noqa: BLE001
                    rec = _evaluate(td, None)
                    rec["result_code"] = None
                    rec["result_status"] = "Error"
                    rec["result_message"] = f"{type(exc).__name__}: {exc}"[:500]
                    rows.append(rec)
        return rows

    if len(jobs) > 1:
        # Jobs touch distinct (table, subset, distinct-split) slices and are
        # independent; submitting them from threads overlaps their Catalyst
        # compiles and stages (local[N] has idle cores while one compiles) —
        # same pattern as profiler.profile_table.
        for rows in pool_map(spark, _run_job, jobs, min(len(jobs), 8)):
            out_rows.extend(rows)
    elif jobs:
        out_rows.extend(_run_job(jobs[0]))

    if spark is None:  # empty defs, or every referenced table missing
        spark = (next(iter(tables.values())).sparkSession if tables
                 else SparkSession.getActiveSession())
        if spark is None:
            raise ValueError(
                "run_cat_tests: no SparkSession could be resolved — pass a "
                "non-empty tables dict or create an active session first")
    # driver-local rows: later actions on the results run no job
    return local_frame(
        spark,
        [tuple(r[f.name] for f in RESULT_SCHEMA.fields) for r in out_rows],
        RESULT_SCHEMA,
    )
