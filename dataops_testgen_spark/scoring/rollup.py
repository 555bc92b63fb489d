"""Prevalence-weighted score rollups.

Reference shape (`rollup_scores_profile_run.sql:1-53`,
`rollup_scores_test_run.sql:1-49`):

1. per (table, column): combined prevalence = 1 − sum_ln(p₁ … pₙ) where
   sum_ln = ∏(1−pᵢ) over valid pᵢ (`020_...sql:254-303`), weighted by
   record_ct × optional table/column/PII weights;
2. run score = 1 − Σ affected / Σ total.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dataops_testgen_spark.scoring.formulas import eval_prevalence
from dataops_testgen_spark.session import local_frame

TEST_DETAIL_SCHEMA = T.StructType([
    T.StructField("test_type", T.StringType()),
    T.StructField("table_name", T.StringType()),
    T.StructField("column_name", T.StringType()),
    T.StructField("result_code", T.IntegerType()),
    T.StructField("record_ct", T.LongType()),
    T.StructField("dq_prevalence", T.DoubleType()),
])


def sum_ln(p: Column) -> Column:
    """Aggregate ∏(1−p) over p ∈ (0, 0.999999]; 1 when no valid input —
    exactly sum_ln_agg_state/final (`020_...sql:254-303`)."""
    valid = p.isNotNull() & (p > 0) & (p <= 0.999999)
    state = F.sum(F.when(valid, F.log(1 - p)))
    return F.coalesce(F.exp(state), F.lit(1.0))


def rollup_scores(detail: DataFrame,
                  use_weights: bool = False,
                  group_cols: tuple[str, ...] = ()) -> DataFrame:
    """detail: one row per finding with (table_name, column_name, record_ct,
    dq_prevalence [, weight]) → one row per ``group_cols`` with
    (affected_data_points, total_data_points, dq_score).
    """
    weight = (F.coalesce(F.col("weight"), F.lit(1.0))
              if use_weights and "weight" in detail.columns else F.lit(1.0))
    per_col = (
        detail.groupBy(*group_cols, "table_name", "column_name")
        .agg(
            F.max(F.col("record_ct") * weight).alias("row_ct"),
            ((1.0 - sum_ln(F.coalesce(F.col("dq_prevalence"), F.lit(0.0))))
             * F.max(F.col("record_ct") * weight)).alias("affected_data_points"),
        )
    )
    agg = per_col.groupBy(*group_cols).agg(
        F.sum("affected_data_points").alias("dq_affected_data_points"),
        F.sum("row_ct").alias("dq_total_data_points"),
    )
    return agg.withColumn(
        "dq_score",
        1.0 - F.col("dq_affected_data_points")
        / F.nullif(F.col("dq_total_data_points").cast("double"), F.lit(0.0)),
    )


def attach_test_prevalence(results: list[dict],
                           profile_lookup: dict[tuple[str, str], dict] | None = None,
                           record_cts: dict[str, int] | None = None) -> list[dict]:
    """Driver-side prevalence for CAT/QUERY test results
    (`calc_prevalence_test_results.sql`): dq_prevalence = 0 for passes, the
    evaluated formula for fails (result_code 0).

    ``results`` rows need test_type / table_name / column_name /
    result_measure / threshold_value; ``profile_lookup`` supplies the
    {PRO_RECORD_CT}/{VALUE_CT}/... tokens from the latest profile.
    """
    out = []
    for r in results:
        row = dict(r)
        record_ct = (record_cts or {}).get(row.get("table_name"))
        row.setdefault("dq_record_ct", record_ct)
        if row.get("result_code") != 0 or row.get("result_measure") is None:
            row["dq_prevalence"] = 0.0
            out.append(row)
            continue
        prof = (profile_lookup or {}).get(
            (row.get("table_name"), row.get("column_name")), {})
        subs = {
            "RESULT_MEASURE": row.get("result_measure"),
            "THRESHOLD_VALUE": row.get("threshold_value", 0),
            "RECORD_CT": row.get("dq_record_ct") or prof.get("record_ct"),
            "PRO_RECORD_CT": prof.get("record_ct"),
            "VALUE_CT": prof.get("value_ct"),
            "DISTINCT_VALUE_CT": prof.get("distinct_value_ct"),
            "DATE_DAYS_PRESENT": prof.get("date_days_present"),
            "DATE_WEEKS_PRESENT": prof.get("date_weeks_present"),
            "DATE_MONTHS_PRESENT": prof.get("date_months_present"),
            "MIN_DATE": prof.get("min_date"),
            "MAX_DATE": prof.get("max_date"),
            "MAX_LENGTH": prof.get("max_length"),
            "AVG_LENGTH": prof.get("avg_length"),
        }
        row["dq_prevalence"] = eval_prevalence(row["test_type"], subs)
        out.append(row)
    return out


def prevalence_detail(results: DataFrame,
                      profile: DataFrame | None = None) -> DataFrame:
    """One row per test result with its prevalence
    (``attach_test_prevalence``; ``profile``'s rows supply the formula
    tokens and each table's record count) as a driver-local
    ``TEST_DETAIL_SCHEMA`` frame: ``rollup_scores`` input, and the score
    cards' test side."""
    prof_rows = {} if profile is None else {
        (r["table_name"], r["column_name"]): r.asDict()
        for r in profile.collect()}
    record_cts = {t: r["record_ct"] for (t, _c), r in prof_rows.items()}
    scored = attach_test_prevalence(
        [r.asDict() for r in results.collect()],
        profile_lookup=prof_rows, record_cts=record_cts)
    return local_frame(
        results.sparkSession,
        [(r.get("test_type"), r.get("table_name"), r.get("column_name"),
          r.get("result_code"), int(r.get("dq_record_ct") or 0),
          float(r.get("dq_prevalence") or 0.0)) for r in scored],
        TEST_DETAIL_SCHEMA)
