"""Selection-criteria test generation.

Each entry re-expresses one test type's ``selection_criteria`` and
``default_parm_columns/values`` from
`/root/reference/testgen/template/dbsetup_test_types/test_types_<type>.yaml`
as PySpark predicates/expressions over the inferred profile DF, applied by
the shape of `template/generation/gen_selection_tests.sql:1-67` (filter the
latest profile run → one test definition per qualifying column).

Out of scope vs the reference: excluded_data_element masks, generation-set
membership and the lock_refresh upsert guard (UI-managed metadata with no
Spark-side counterpart); ``merge_test_defs`` emulates the idempotent upsert.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dataops_testgen_spark.execution.defs import TestDef
from dataops_testgen_spark.inference import helpers as H

# generate_selection_tests' output: one row per test definition (the run
# store's test_definitions rows, before the suite and generation stamps)
TEST_DEFINITION_SCHEMA = T.StructType(
    [T.StructField(n, T.StringType())
     for n in ("test_type", "table_name", "column_name", "test_active",
               "last_auto_gen_date")]
    + [T.StructField("params", T.MapType(T.StringType(), T.StringType()))])

_MONTH_LISTS = {
    "full_init": "'January','February','March','April','May','June','July','August','September','October','November','December'",
    "full_upper": "'JANUARY','FEBRUARY','MARCH','APRIL','MAY','JUNE','JULY','AUGUST','SEPTEMBER','OCTOBER','NOVEMBER','DECEMBER'",
    "full_lower": "'january','february','march','april','may','june','july','august','september','october','november','december'",
    "abbr_init": "'Jan','Feb','Mar','Apr','May','Jun','Jul','Aug','Sep','Oct','Nov','Dec'",
    "abbr_upper": "'JAN','FEB','MAR','APR','MAY','JUN','JUL','AUG','SEP','OCT','NOV','DEC'",
    "abbr_lower": "'jan','feb','mar','apr','may','jun','jul','aug','sep','oct','nov','dec'",
    "two_dig": "'01','02','03','04','05','06','07','08','09','10','11','12'",
    "one_dig": "'1','2','3','4','5','6','7','8','9','10','11','12'",
}


def _c(name: str) -> Column:
    return F.col(name)


def _s(col: Column) -> Column:
    return col.cast("string")


def _measure_numeric() -> Column:
    return (
        (_c("general_type") == "N") & (_c("distinct_value_ct") > 10)
        & H.ilike(_c("functional_data_type"), "measure%")
        & (_c("functional_data_type") != "Measurement Spike")
        & ~H.ilike(_c("column_name"), "%latitude%")
        & ~H.ilike(_c("column_name"), "%longitude%")
    )


def _one_alpha_pattern() -> Column:
    """Exactly one stored pattern and it contains non-numeric placeholders."""
    return (F.size(F.split(_c("top_patterns"), r" \| ")) == 1) & (
        F.replace(H.nth_pattern(_c("top_patterns"), 1), F.lit("N"), F.lit("")) > ""
    )


def _lov_baseline() -> Column:
    """'(' || quoted top values || ')' (test_types_LOV_Match.yaml parm SQL)."""
    quoted = F.transform(
        H.freq_values_array(_c("top_freq_values")),
        lambda v: F.concat(F.lit("'"), F.replace(v, F.lit("'"), F.lit("''")), F.lit("'")),
    )
    return F.concat(F.lit("("), F.concat_ws(",", quoted), F.lit(")"))


def _valid_month_baseline() -> Column:
    init = F.initcap(_c("min_text")) == _c("min_text")
    upper = F.upper(_c("min_text")) == _c("min_text")
    lower = F.lower(_c("min_text")) == _c("min_text")
    return (
        F.when((_c("max_length") > 3) & init, F.lit(_MONTH_LISTS["full_init"]))
        .when((_c("max_length") > 3) & upper, F.lit(_MONTH_LISTS["full_upper"]))
        .when((_c("max_length") > 3) & lower, F.lit(_MONTH_LISTS["full_lower"]))
        .when((_c("max_length") == 3) & init, F.lit(_MONTH_LISTS["abbr_init"]))
        .when((_c("max_length") == 3) & upper, F.lit(_MONTH_LISTS["abbr_upper"]))
        .when((_c("max_length") == 3) & lower, F.lit(_MONTH_LISTS["abbr_lower"]))
        .when((_c("max_length") == 2) & (_c("min_text") == "01"), F.lit(_MONTH_LISTS["two_dig"]))
        .when((_c("max_length") == 2) & (_c("min_text") == "1"), F.lit(_MONTH_LISTS["one_dig"]))
        .when(_c("min_value") == 1, F.lit("1,2,3,4,5,6,7,8,9,10,11,12"))
        .otherwise(F.lit("NULL"))
    )


def _pattern_regex_baseline() -> Column:
    pat = H.nth_pattern(_c("top_patterns"), 1)
    esc = F.regexp_replace(pat, r"([*+\-%_])", r"[$1]")
    return F.trim(
        F.replace(F.replace(F.replace(esc, F.lit("A"), F.lit("[A-Z]")),
                            F.lit("N"), F.lit("[0-9]")),
                  F.lit("a"), F.lit("[a-z]"))
    )


def _recency_threshold() -> Column:
    gap = F.datediff(F.to_date(_c("run_date")), F.to_date(_c("max_date")))
    return (
        F.when(gap <= 3, gap + 3)
        .when(gap <= 7, gap + 7)
        .when(gap <= 31, F.ceil(gap.cast("double") / 7.0) * 7)
        .otherwise(F.ceil(gap.cast("double") / 30.0) * 30)
    ).cast("long").cast("string")


def _no_overlap_alpha() -> Column:
    """Alpha_Trunc's overlap-elimination clause."""
    return (
        ~_c("distinct_value_ct").between(2, 10)
        & ~_c("functional_data_type").isin("Constant", "Boolean")
        & ~_one_alpha_pattern()
    )


def selection_catalog() -> list[tuple[str, Column, dict[str, Column]]]:
    """(test_type, criteria, params) per selection-based test type."""
    rd = F.to_date(_c("run_date"))
    day_span = F.datediff(F.to_date(_c("max_date")), F.to_date(_c("min_date")))
    txn_cumulative = (
        H.ilike(_c("functional_data_type"), "transactional date%")
        & (_c("date_days_present") > 1)
        & H.ilike(_c("functional_table_type"), "%cumulative%")
    )
    future_ratio_ok = (
        _c("future_date_ct").cast("double") / F.nullif(_c("value_ct").cast("double"), F.lit(0.0))
        <= 0.75
    )
    return [
        ("Alpha_Trunc",
         (_c("general_type") == "A") & (_c("max_length") > 0)
         & (((_c("min_length") == _c("avg_length")) & (_c("max_length") == _c("avg_length")))
            | (_c("numeric_ct") != _c("value_ct")))
         & ~H.ilike(_c("functional_table_type"), "%window%") & _no_overlap_alpha(),
         {"threshold_value": _s(F.floor(0.95 * _c("max_length").cast("double")))}),
        ("Avg_Shift", _measure_numeric(),
         {"baseline_value_ct": _s(_c("value_ct")), "baseline_avg": _s(_c("avg_value")),
          "baseline_sd": _s(_c("stdev_value")), "threshold_value": F.lit("0.5")}),
        ("Daily_Record_Ct",
         (_c("general_type") == "D") & (_c("date_days_present") > 21)
         & (_c("date_days_present") - (day_span + 1) == 0) & future_ratio_ok,
         {"threshold_value": F.lit("0")}),
        ("Dec_Trunc",
         (_c("fractional_sum") > 0) & H.ilike(_c("functional_table_type"), "%cumulative%"),
         {"threshold_value": _s(F.round(_c("fractional_sum"), 0))}),
        ("Distinct_Date_Ct", txn_cumulative,
         {"baseline_value": _s(_c("date_days_present")),
          "threshold_value": _s(_c("date_days_present"))}),
        ("Distinct_Value_Ct",
         _c("distinct_value_ct").between(2, 10) & (_c("value_ct") > 50)
         & _c("functional_data_type").isin("Code", "Category", "Attribute", "Description")
         & ~(F.coalesce(_c("top_freq_values"), F.lit("")) > ""),
         {"baseline_value_ct": _s(_c("distinct_value_ct")),
          "threshold_value": _s(_c("distinct_value_ct"))}),
        ("Email_Format", _c("std_pattern_match") == "EMAIL",
         {"threshold_value": F.lit("0")}),
        ("Future_Date", (_c("general_type") == "D") & (_c("future_date_ct") == 0),
         {"threshold_value": F.lit("0")}),
        ("Future_Date_1Y",
         (_c("general_type") == "D") & (_c("future_date_ct") > 0)
         & (F.to_date(_c("max_date")) <= F.date_add(rd, 365)),
         {"threshold_value": F.lit("0")}),
        ("Incr_Avg_Shift", _measure_numeric(),
         {"baseline_value_ct": _s(_c("value_ct")),
          "baseline_sum": _s(_c("avg_value") * _c("value_ct")),
          "baseline_avg": _s(_c("avg_value")), "baseline_sd": _s(_c("stdev_value")),
          "threshold_value": F.lit("2")}),
        ("LOV_Match",
         _c("functional_data_type").isin("Boolean", "Code", "Category")
         & (_c("top_freq_values") > "") & _c("distinct_value_ct").between(2, 10)
         & (_c("value_ct") > 5),
         {"baseline_value": _lov_baseline(), "threshold_value": F.lit("0")}),
        ("Min_Date",
         (_c("general_type") == "D") & _c("min_date").isNotNull()
         & (_c("distinct_value_ct") > 1),
         {"baseline_value": _s(_c("min_date")), "threshold_value": F.lit("0")}),
        ("Min_Val",
         (_c("general_type") == "N") & H.ilike(_c("functional_data_type"), "measure%")
         & _c("min_value").isNotNull()
         & ((_c("distinct_value_ct") >= 2)
            | ((_c("distinct_value_ct") == 2) & (_c("min_value") != 0)
               & (_c("max_value") != 1))),
         {"baseline_value": _s(_c("min_value")), "threshold_value": F.lit("0")}),
        ("Missing_Pct", _c("record_ct") != _c("value_ct"),
         {"baseline_ct": _s(_c("record_ct")), "baseline_value_ct": _s(_c("value_ct")),
          "threshold_value": F.lit("2")}),
        ("Monthly_Rec_Ct",
         txn_cumulative & (_c("date_months_present") > 2)
         & (_c("date_months_present")
            - (H.month_diff(_c("min_date"), _c("max_date")) + 1) == 0) & future_ratio_ok,
         {"threshold_value": F.lit("0")}),
        ("Outlier_Pct_Above",
         (_c("functional_data_type") == "Measurement") & (_c("distinct_value_ct") > 30)
         & ~(_c("distinct_value_ct") == _c("max_value") - _c("min_value") + 1)
         & (_c("distinct_value_ct").cast("double") / _c("value_ct") > 0.1)
         & (_c("stdev_value") / _c("avg_value") > 0.01)
         & ~H.ilike(_c("column_name"), "%latitude%")
         & ~H.ilike(_c("column_name"), "%longitude%"),
         {"baseline_avg": _s(_c("avg_value")), "baseline_sd": _s(_c("stdev_value")),
          "threshold_value": F.lit("0.05")}),
        ("Outlier_Pct_Below",
         (_c("functional_data_type") == "Measurement") & (_c("distinct_value_ct") > 30)
         & ~(_c("distinct_value_ct") == _c("max_value") - _c("min_value") + 1)
         & (_c("distinct_value_ct").cast("double") / _c("value_ct") > 0.1)
         & (_c("stdev_value") / _c("avg_value") > 0.01)
         & ~H.ilike(_c("column_name"), "%latitude%")
         & ~H.ilike(_c("column_name"), "%longitude%"),
         {"baseline_avg": _s(_c("avg_value")), "baseline_sd": _s(_c("stdev_value")),
          "threshold_value": F.lit("0.05")}),
        ("Pattern_Match",
         (_c("functional_data_type").isin("Attribute", "DateTime Stamp", "Phone")
          | H.ilike(_c("functional_data_type"), "id%")
          | H.ilike(_c("functional_data_type"), "period%"))
         & _one_alpha_pattern() & (_c("distinct_value_ct") > 10),
         {"baseline_value": _pattern_regex_baseline(), "threshold_value": F.lit("0")}),
        ("Recency",
         (_c("general_type") == "D") & (F.to_date(_c("max_date")) <= rd)
         & ~_c("column_name").isin("filedate", "file_date")
         & ~_c("functional_data_type").isin("Future Date", "Schedule Date")
         & (F.datediff(rd, F.to_date(_c("max_date"))) <= 62),
         {"threshold_value": _recency_threshold()}),
        ("Required", (_c("record_ct") == _c("value_ct")) & (_c("record_ct") > 10),
         {"threshold_value": F.lit("0")}),
        ("Street_Addr_Pattern",
         (_c("std_pattern_match") == "STREET_ADDR")
         & (_c("avg_length") != F.round(_c("avg_length")))
         & _c("avg_embedded_spaces").between(2, 6) & (_c("avg_length") < 35),
         {"threshold_value": F.lit("75")}),
        ("US_State",
         (_c("general_type") == "A") & H.ilike(_c("column_name"), "%state%")
         & (_c("distinct_value_ct") < 70) & (_c("max_length") == 2),
         {"threshold_value": F.lit("0")}),
        ("Unique",
         (_c("record_ct") > 500) & (_c("record_ct") == _c("distinct_value_ct"))
         & (_c("value_ct") > 0),
         {"threshold_value": F.lit("0")}),
        ("Unique_Pct",
         (_c("distinct_value_ct") > 10)
         & ~H.ilike(_c("functional_data_type"), "measurement%"),
         {"baseline_value_ct": _s(_c("value_ct")),
          "baseline_unique_ct": _s(_c("distinct_value_ct")),
          "threshold_value": F.lit("0.5")}),
        ("Valid_Characters", _c("general_type") == "A",
         {"threshold_value": F.lit("0")}),
        ("Valid_Month", _c("functional_data_type") == "Period Month",
         {"threshold_value": F.lit("0"), "baseline_value": _valid_month_baseline()}),
        ("Valid_US_Zip", _c("functional_data_type") == "Zip",
         {"threshold_value": F.lit("0")}),
        ("Valid_US_Zip3", _c("functional_data_type") == "Zip3",
         {"threshold_value": F.lit("0")}),
        ("Variability_Increase",
         _measure_numeric() & (_c("value_ct") != _c("distinct_value_ct"))
         & (_c("stdev_value") > 0) & _c("avg_value").isNotNull()
         & ~((_c("distinct_value_ct") == _c("max_value") - _c("min_value") + 1)
             & (_c("distinct_value_ct") > 2)),
         {"baseline_sd": _s(_c("stdev_value")), "threshold_value": F.lit("120")}),
        ("Variability_Decrease",
         _measure_numeric() & (_c("value_ct") != _c("distinct_value_ct"))
         & (_c("stdev_value") > 0) & _c("avg_value").isNotNull()
         & ~((_c("distinct_value_ct") == _c("max_value") - _c("min_value") + 1)
             & (_c("distinct_value_ct") > 2)),
         {"baseline_sd": _s(_c("stdev_value")), "threshold_value": F.lit("80")}),
        ("Weekly_Rec_Ct",
         # test_types_Weekly_Rec_Ct.yaml selection_criteria: transactional
         # date column on a cumulative table with every calendar week in
         # [min_date, max_date] present
         txn_cumulative & (_c("date_weeks_present") > 3)
         & (_c("date_weeks_present")
            - (H.week_diff(_c("min_date"), _c("max_date")) + 1) == 0)
         & future_ratio_ok,
         {"threshold_value": F.lit("0")}),
    ]


def generate_selection_tests(
    inferred_profile: DataFrame,
    test_types: set[str] | list[str] | None = None,
    table_names: set[str] | list[str] | None = None,
) -> DataFrame:
    """Inferred profile DF → test_definitions DF (one pass, exploded).

    ``test_types`` restricts generation to a subset of the catalog and
    ``table_names`` to a subset of tables — the reference's
    test_types_filter and TABLE_FILTER (commands/test_generation.py:133-135,
    146-147)."""
    if table_names is not None:
        inferred_profile = inferred_profile.filter(
            F.col("table_name").isin(list(table_names)))
    wanted = set(test_types) if test_types is not None else None
    entries = []
    for test_type, criteria, params in selection_catalog():
        if wanted is not None and test_type not in wanted:
            continue
        entries.append(
            F.struct(
                F.lit(test_type).alias("test_type"),
                F.coalesce(criteria, F.lit(False)).alias("fires"),
                F.map_from_arrays(
                    F.array(*[F.lit(k) for k in params]),
                    F.array(*params.values()),
                ).alias("params"),
            )
        )
    out = inferred_profile.select(
        "table_name", "column_name", "run_date",
        F.explode(F.array(*entries)).alias("t"),
    ).filter(F.col("t.fires"))
    return out.select(
        F.col("t.test_type").alias("test_type"),
        "table_name", "column_name",
        F.lit("Y").alias("test_active"),
        F.col("run_date").alias("last_auto_gen_date"),
        F.col("t.params").alias("params"),
    )


def merge_test_defs(existing: DataFrame | None, generated: DataFrame,
                    locked: DataFrame | None = None) -> DataFrame:
    """Idempotent upsert keyed on (test_type, table, column) —
    `ON CONFLICT ... DO UPDATE ... WHERE lock_refresh='N'` semantics.

    ``locked``: (test_type, table_name, column_name) rows to keep as-is.
    """
    if existing is None:
        return generated
    keys = ["test_type", "table_name", "column_name"]
    if locked is not None:
        keep_locked = existing.join(locked.select(*keys), keys, "left_semi")
        generated = generated.join(locked.select(*keys), keys, "left_anti")
    else:
        keep_locked = None
    refreshed = existing.join(generated.select(*keys), keys, "left_anti")
    out = refreshed.unionByName(generated)
    if keep_locked is not None:
        out = out.join(keep_locked.select(*keys), keys, "left_anti").unionByName(keep_locked)
    return out


def to_test_defs(test_definitions: DataFrame) -> list[TestDef]:
    """Materialize generated definitions as CAT-engine TestDefs."""
    defs = []
    for r in test_definitions.collect():
        params: dict = dict(r["params"] or {})
        if r["test_type"] in ("LOV_Match", "Valid_Month") and "baseline_value" in params:
            # "('A','B')" / "'Jan','Feb'" literal list → Python list
            raw = str(params["baseline_value"]).strip("()")
            params["baseline_value"] = [
                v.strip().strip("'").replace("''", "'")
                for v in raw.split(",") if v.strip()
            ]
        for k, v in list(params.items()):
            if k == "baseline_value" and isinstance(v, list):
                continue
            # numeric params arrive as strings; parse with float() so
            # scientific notation ("1e9") round-trips, then downcast whole
            # numbers so int-typed thresholds stay ints
            try:
                num = float(v)
            except (TypeError, ValueError):
                continue
            params[k] = int(num) if num.is_integer() else num
        defs.append(TestDef(
            test_id=f"{r['test_type']}_{r['table_name']}_{r['column_name']}".lower(),
            test_type=r["test_type"],
            table_name=r["table_name"],
            column_name=r["column_name"],
            params=params,
        ))
    return defs
