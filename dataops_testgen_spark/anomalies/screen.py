"""Anomaly screening engine.

Evaluates the Column-class catalog as one filtered union over the inferred
profile DF, plus the grouped classes:

- **Multi-Col** (`profile_anomalies_screen_multi_column.sql:1-59`): columns
  with the same name across >1 table — type-consistency census + cross-table
  pattern mismatch.
- **Dates** (`profile_anomalies_screen_table_dates.sql`): per-table HAVING
  over date columns (Recency_One_Year / Recency_Six_Months). CURRENT_DATE is
  replaced by the profile run_date for determinism.
- **Variant** (`profile_anomalies_screen_variants.sql`): top-frequency values
  intersected with the variant_codings synonym lists; >1 synonym of the same
  coding present ⇒ inconsistent coding.

Prevalence (`profile_anomaly_scoring.sql:1-9`): dq_prevalence =
prevalence_formula × risk; NULL when the type defines no formula.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dataops_testgen_spark.anomalies import catalog as CAT
from dataops_testgen_spark.inference import helpers as H
from dataops_testgen_spark.session import memo

# the screen's output: one row per finding (the run store's
# profile_anomaly_results rows)
SCREEN_SCHEMA = T.StructType(
    [T.StructField(n, T.StringType())
     for n in ("table_name", "column_name", "anomaly_type", "data_object",
               "likelihood", "detail")]
    + [T.StructField("dq_prevalence", T.DoubleType())])


def _column_screen(profile: DataFrame) -> DataFrame:
    """All Column-class rules in ONE pass: per rule a (fires, prevalence)
    struct; explode and filter. One job regardless of rule count. The
    rule structs reference only fixed profile-schema names, so the
    expression array builds once per session (session.memo), not once
    per screened table (~2 s of driver round-trips saved per fresh
    table, r12 verdict #6)."""
    def build():
        entries = []
        for rule in CAT.COLUMN_RULES:
            fires = rule.criteria()
            if rule.prevalence is None:
                prev: Column = F.lit(None).cast("double")
            else:
                risk = (rule.risk() if callable(rule.risk)
                        else F.lit(rule.risk))
                prev = rule.prevalence() * risk
            entries.append(
                F.struct(
                    F.lit(rule.key).alias("anomaly_type"),
                    F.lit(rule.likelihood).alias("likelihood"),
                    F.coalesce(fires, F.lit(False)).alias("fires"),
                    prev.alias("dq_prevalence"),
                )
            )
        return entries

    entries = memo(profile.sparkSession, ("column_screen_rules",), build)
    exploded = profile.select(
        "table_name", "column_name",
        F.explode(F.array(*entries)).alias("a"),
    ).filter(F.col("a.fires"))
    return exploded.select(
        "table_name", "column_name",
        F.col("a.anomaly_type").alias("anomaly_type"),
        F.lit("Column").alias("data_object"),
        F.col("a.likelihood").alias("likelihood"),
        F.lit(None).cast("string").alias("detail"),
        F.col("a.dq_prevalence").alias("dq_prevalence"),
    )


def _multi_column_screen(profile: DataFrame) -> DataFrame:
    """Multiple_Types_Major/Minor + Table_Pattern_Mismatch.

    mults CTE (screen_multi_column.sql:1-18): per column_name across tables,
    HAVING COUNT(*) > 1; very_top_pattern = the pattern with the max
    zero-padded count across member columns.
    """
    pc1 = H.nth_pattern_count(F.col("top_patterns"), 1)
    p1 = H.nth_pattern(F.col("top_patterns"), 1)
    mults = (
        profile.groupBy("column_name")
        .agg(
            F.count(F.lit(1)).alias("column_ct"),
            F.countDistinct("column_type").alias("type_ct"),
            F.countDistinct("general_type").alias("general_type_ct"),
            F.min("column_type").alias("min_type"),
            F.max("column_type").alias("max_type"),
            F.max("distinct_pattern_ct").alias("max_pattern_ct"),
            F.concat_ws(", ", F.array_sort(F.collect_list("table_name"))).alias("table_list"),
            F.max(
                F.when(p1 != "", F.concat(F.lpad(pc1.cast("string"), 20, "0"),
                                          F.lit("|"), p1))
            ).alias("very_top_pattern"),
        )
        .filter(F.col("column_ct") > 1)
    )
    types = mults.select(
        F.lit("(multi-table)").alias("table_name"),
        "column_name",
        F.when(F.col("general_type_ct") > 1, F.lit("Multiple_Types_Major"))
        .when((F.col("general_type_ct") == 1) & (F.col("type_ct") > 1),
              F.lit("Multiple_Types_Minor")).alias("anomaly_type"),
        F.lit("Multi-Col").alias("data_object"),
        F.when(F.col("general_type_ct") > 1, F.lit("Likely"))
        .otherwise(F.lit("Possible")).alias("likelihood"),
        F.concat(F.lit("Found "), F.col("column_ct").cast("string"),
                 F.lit(" columns, "), F.col("type_ct").cast("string"),
                 F.lit(" types, "), F.col("min_type"), F.lit(" to "),
                 F.col("max_type"), F.lit(", Tables: "), F.col("table_list")).alias("detail"),
        F.lit(None).cast("double").alias("dq_prevalence"),
    ).filter(F.col("anomaly_type").isNotNull())

    # Table_Pattern_Mismatch — per member column vs the group's top pattern
    joined = profile.join(
        mults.select("column_name", "column_ct", "max_pattern_ct", "very_top_pattern"),
        "column_name",
    )
    vtp_ct = F.nullif(F.regexp_extract(F.col("very_top_pattern"), r"^0*([0-9]+)\|", 1),
                      F.lit("")).cast("long")
    vtp_pat = F.regexp_extract(F.col("very_top_pattern"), r"\|(.*)$", 1)
    tpm = joined.filter(
        (F.col("general_type") == "A")
        & ~H.ilike(F.col("functional_data_type"), "measurement%")
        & ~F.col("functional_data_type").isin("Category", "Code")
        & (F.col("max_length") > 3)
        & (F.col("value_ct") > (F.col("numeric_ct") + F.col("filled_value_ct")
                                + F.col("zero_length_ct")))
        & (F.col("max_pattern_ct") == 1)
        & (F.col("column_ct") > 1)
        & (p1 != vtp_pat)
        & (pc1.cast("double") / vtp_ct < 0.1)
    ).select(
        "table_name", "column_name",
        F.lit("Table_Pattern_Mismatch").alias("anomaly_type"),
        F.lit("Multi-Col").alias("data_object"),
        F.lit("Likely").alias("likelihood"),
        F.concat(F.lit("Pattern: "), p1, F.lit(" vs "), vtp_pat).alias("detail"),
        F.lit(None).cast("double").alias("dq_prevalence"),
    )
    return types.unionByName(tpm)


def _dates_screen(profile: DataFrame) -> DataFrame:
    """Recency anomalies per table over D columns (screen_table_dates.sql)."""
    rd = F.to_date(F.max("run_date"))
    grouped = (
        profile.filter(F.col("general_type") == "D")
        .groupBy("table_name")
        .agg(
            F.max("max_date").alias("mx"),
            rd.alias("rd"),
            F.concat_ws(", ", F.array_sort(F.collect_list("column_name"))).alias("cols"),
            F.count(F.lit(1)).alias("n_cols"),
        )
    )
    one_year = F.col("mx") < F.add_months(F.col("rd"), -12).cast("timestamp")
    six_months = (~one_year) & (F.col("mx") < F.add_months(F.col("rd"), -6).cast("timestamp"))
    return grouped.select(
        "table_name",
        F.when(F.col("n_cols") > 2, F.lit("(multi-column)"))
        .otherwise(F.col("cols")).alias("column_name"),
        F.when(one_year, F.lit("Recency_One_Year"))
        .when(six_months, F.lit("Recency_Six_Months")).alias("anomaly_type"),
        F.lit("Dates").alias("data_object"),
        F.lit("Possible").alias("likelihood"),
        F.concat(F.lit("Latest date: "), F.col("mx").cast("string")).alias("detail"),
        F.lit(None).cast("double").alias("dq_prevalence"),
    ).filter(F.col("anomaly_type").isNotNull())


def _variant_screen(profile: DataFrame) -> DataFrame:
    """Variant_Coded_Values: >1 synonym of one coding among top values."""
    spark = profile.sparkSession
    codings = spark.createDataFrame(CAT.VARIANT_CODINGS, "value_type string, check_values string")
    candidates = profile.filter(
        (F.col("distinct_value_ct") <= 20) & (F.col("top_freq_values") > "")
    ).select(
        "table_name", "column_name",
        F.transform(H.freq_values_array(F.col("top_freq_values")), F.lower).alias("vals"),
    )
    joined = candidates.crossJoin(F.broadcast(codings))
    inter = F.array_intersect(F.col("vals"), F.split(F.col("check_values"), r"\|"))
    hits = joined.withColumn("inter", inter).filter(F.size("inter") > 1)
    return (
        hits.groupBy("table_name", "column_name")
        .agg(
            F.concat_ws("|", F.array_sort(F.array_distinct(F.flatten(
                F.collect_list("inter"))))).alias("intersect_list")
        )
        .select(
            "table_name", "column_name",
            F.lit("Variant_Coded_Values").alias("anomaly_type"),
            F.lit("Variant").alias("data_object"),
            F.lit("Definite").alias("likelihood"),
            F.concat(F.lit("Variants found: "), F.col("intersect_list")).alias("detail"),
            F.lit(None).cast("double").alias("dq_prevalence"),
        )
    )


def screen_anomalies(inferred_profile: DataFrame,
                     tables: dict[str, DataFrame] | None = None,
                     spearman: bool = False) -> DataFrame:
    """Inferred profile DF (apply_inference output) → anomaly results DF.

    Pass ``tables`` ({table_name: raw DataFrame}) to also run the
    Correlation and Dependence classes (anomalies/correlation.py,
    anomalies/dependence.py): the Column/Multi-Col/Dates/Variant classes
    read only the profile, but pairwise correlation and group-dependence
    need fused-agg passes over each table's raw rows — the same
    profile-qualified raw-data shape as the contingency rules.
    ``spearman=True`` (needs ``tables``) adds the rank-correlation pass:
    monotone-nonlinear derivations flag as Correlated_Columns with a
    "Monotone-correlated" detail."""
    if spearman and not tables:
        raise ValueError("spearman=True requires tables= — the rank pass "
                         "screens raw table rows, not the profile")
    out = _column_screen(inferred_profile)
    out = out.unionByName(_multi_column_screen(inferred_profile))
    out = out.unionByName(_dates_screen(inferred_profile))
    out = out.unionByName(_variant_screen(inferred_profile))
    if tables:
        from dataops_testgen_spark.anomalies.correlation import (
            correlation_anomalies)
        from dataops_testgen_spark.anomalies.dependence import (
            dependence_anomalies)

        # ONE metadata collect feeds both hooks' eligibility (they used
        # to run three near-identical filter+collect jobs over the same
        # checkpointed inferred profile); the driver-side predicates
        # mirror the Column filters (parity test in tests/test_anomalies)
        meta_rows = inferred_profile.select(
            "table_name", "column_name", "general_type",
            "functional_data_type", "distinct_value_ct").collect()
        for extra in (correlation_anomalies(tables, inferred_profile,
                                            spearman=spearman,
                                            meta_rows=meta_rows),
                      dependence_anomalies(tables, inferred_profile,
                                           meta_rows=meta_rows)):
            if extra is not None:
                out = out.unionByName(extra)
    return out.select(*SCREEN_SCHEMA.fieldNames())
