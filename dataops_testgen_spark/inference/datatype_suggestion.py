"""Physical datatype suggestions from observed profile stats.

Reference: `/root/reference/testgen/template/profiling/datatype_suggestions.sql:1-153`
— a single CASE over the profile row, flavor-specialized only for timestamp
type names (we emit the Spark names TIMESTAMP / TIMESTAMP_NTZ).

Runs BEFORE the functional-datatype cascade (profiling_query.py:163-177), so
`functional_data_type` is NULL on a fresh run and the State/Boolean/
Measurement-Pct branches only fire when a prior value is supplied.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dataops_testgen_spark.inference import helpers as H
from dataops_testgen_spark.session import memo


def _varchar(size: Column) -> Column:
    return F.concat(F.lit("VARCHAR("), size.cast("int").cast("string"), F.lit(")"))


def _alpha_suggestion(c) -> Column:
    top_freq = F.coalesce(c("top_freq_values"), F.lit(""))
    is_all_numeric = (c("numeric_ct") > 0) & (c("value_ct") == c("numeric_ct") + F.coalesce(c("zero_length_ct"), F.lit(0)))
    is_all_date = (c("date_ct") > 0) & (c("value_ct") == c("date_ct") + F.coalesce(c("zero_length_ct"), F.lit(0)))
    has_dot = F.instr(top_freq, ".") > 0
    current_size = H.declared_size(c("column_type"))

    # adaptive text bucket (:92-105)
    computed_bucket = F.when(
        c("max_length") <= 50, F.ceil((c("max_length") + 5) / 10.0) * 10
    ).otherwise((1 + F.floor((c("max_length") + 10) / 20.0)) * 20)
    fallback_bucket = F.when(
        c("max_length") <= 50, F.ceil(c("max_length") / 10.0) * 10
    ).otherwise((1 + F.floor((c("max_length") + 10) / 20.0)) * 20)

    return (
        F.when(H.ilike(c("column_name"), "%zip%") & (c("max_length") <= 10),
               _varchar(F.coalesce(F.least(F.lit(10), current_size), F.lit(10))))
        .when(c("functional_data_type").isin("State", "Boolean"),
              _varchar(c("max_length")))
        .when(c("functional_data_type") == "Measurement Pct",
              _varchar(F.coalesce(F.greatest(F.lit(6), c("max_length")), F.lit(6))))
        .when(is_all_numeric & has_dot, F.lit("DECIMAL(18,4)"))
        .when(is_all_numeric & (c("max_length") <= 6) & ~has_dot, F.lit("INTEGER"))
        .when(is_all_numeric & (c("max_length") > 6) & ~has_dot, F.lit("BIGINT"))
        .when(is_all_date & (F.instr(top_freq, "+") > 0), F.lit("TIMESTAMP"))
        .when(is_all_date & (F.instr(top_freq, ":") > 0), F.lit("TIMESTAMP_NTZ"))
        .when(is_all_date, F.lit("DATE"))
        .when(c("max_length") <= 5,
              _varchar(F.coalesce(F.least(F.lit(10), current_size), F.lit(10))))
        .when(c("max_length").isNotNull(),
              _varchar(F.coalesce(F.least(computed_bucket.cast("int"), current_size),
                                  fallback_bucket.cast("int"))))
        .otherwise(F.lower(c("column_type")))
    )


def _numeric_suggestion(c) -> Column:
    has_scale = H.decimal_scale(c("column_type")) > 0
    integral = has_scale & (c("fractional_sum") == 0)
    return (
        F.when(integral & (c("min_value") >= -100) & (c("max_value") <= 100),
               F.lit("SMALLINT"))
        .when(integral & (c("min_value") >= -100000000) & (c("max_value") <= 100000000),
              F.lit("INTEGER"))
        .when(integral & ((c("min_value") < -100000000) | (c("max_value") > 100000000)),
              F.lit("BIGINT"))
        .otherwise(F.lower(c("column_type")))
    )


def add_datatype_suggestion(profile: DataFrame) -> DataFrame:
    """profile DF (+ functional_data_type col, may be NULL) → + datatype_suggestion."""
    c = F.col
    if "functional_data_type" not in profile.columns:
        profile = profile.withColumn("functional_data_type", F.lit(None).cast("string"))
    # fixed profile-schema expression — one build per session
    suggestion = memo(
        profile.sparkSession, ("datatype_suggestion",),
        lambda: F.when(
            (c("record_ct") > 500) & ~H.ilike(c("column_name"), "%id"),
            F.when(c("general_type") == "A", _alpha_suggestion(c))
            .when(c("general_type") == "N", _numeric_suggestion(c))
            .otherwise(F.lower(c("column_type"))),
        ).otherwise(F.lower(c("column_type"))))
    return profile.withColumn("datatype_suggestion", suggestion)
