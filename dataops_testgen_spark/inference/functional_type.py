"""Functional data-type inference: the reference's 622-line UPDATE cascade.

Reference: `/root/reference/testgen/template/profiling/functional_datatype.sql:1-622`.
Each UPDATE statement with a `functional_data_type IS NULL` guard becomes a
first-match rule; unguarded statements become overrides, preserving exact
statement order. Cross-row statements (positional City :293-309/:511-528,
ID-FK :559-571) are window expressions: a range frame over
``ordinal_position`` within ``table_name`` for the positional rules (so a gap
in the ordinals is never skipped) and a ``collect_set`` over ``column_name``
for ID-FK.

Implementation note: runs of IS-NULL-guarded rules compile to a single
``F.coalesce(prev, when(c1,v1), when(c2,v2), ...)`` — first non-null IS
first-match-wins, and each layer references the previous result exactly once.
(A naive ``when(prev.isNull() & c, v).otherwise(prev)`` fold duplicates the
previous expression per rule → 2^n expression nodes → OOMs the driver JVM.)
The cascade is applied as a sequence of ``withColumn`` steps so no step
multiplies the expression tree by more than a small constant.

Functional table types:
`functional_tabletype_stage.sql:1-64` + `functional_tabletype_update.sql:1-8`
— run-history check for cumulative/window + per-table functional-type census,
final label ``<period>-<type>``, both as window aggregates over
``table_name``.

Deliberate deviations (documented; reference behavior is otherwise the spec):
- `NOW()` in Period-Year bounds → the profile run_date (determinism).
- :275 `lower(column_name) IN ('ZIP_CODE','ZIP')` can never match (lowercase
  vs uppercase literals); we use lowercase literals as evidently intended.
- :100 DATEDIFF('QUARTER',...) inherits the reference's month/quarter mixup;
  we use true quarter-boundary diffs (helpers.quarter_diff).
- `column_type NOT ILIKE '%numeric%'` (Boolean rule) additionally excludes
  Spark's '%decimal%' spelling of the same physical type.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from dataops_testgen_spark.inference import helpers as H
from dataops_testgen_spark.session import memo

MONTHS_RE = "(jan|feb|mar|apr|may|jun|jul|aug|sep|oct|nov|dec)"

PROCESS_TS_RE1 = (
    r"^(last_?|system_?|)(add|create|insert|inrt|update|updt|mod|modif|modf|del|delete|refresh)"
    r"(.{0,3}d?_?(time|tm|date|day|dt|stamp|timestamp|datestamp))$"
)
PROCESS_TS_RE2 = r"^(last_?|)(change|chg|update|updt|mod|modify|modf|modified|refresh|refreshed)$"
FULL_NAME_RE = (
    r"(approver|full|contact|emp|employee|hcp|manager|mgr|owner|party|person|"
    r"preferred|rep|reviewer|salesperson|spouse)(_| |)(name|nm)$"
)
ENTITY_NAME_RE = (
    r"(acct|account|affiliation|branch|business|co|comp|company|corp|corporate|"
    r"cust|customer|distributor|employer|entity|firm|franchise|hco|org|"
    r"organization|site|supplier|vendor|hospital|practice|clinic)(_| |)(name|nm)$"
)
PROCESS_USER_RE = r"^(last_?|)(create|update|modif|delete|refresh)(.*?(by|id|name|nm|user|usr))$"
SYSTEM_USER_RE = r"(user|usr)_?(name|nm)?$"

FDT = "functional_data_type"


def _lit(value) -> Column:
    return F.lit(value) if isinstance(value, str) else value


def _rule(cond: Column, value) -> Column:
    """One IS-NULL-guarded rule: non-null only when it fires."""
    return F.when(cond, _lit(value))


def _date_case(c, rd: Column) -> Column:
    """Date classification block (:68-112). NULL when no branch fires."""
    value_f = F.nullif(c("value_ct").cast("double"), F.lit(0.0))
    pct_20yr = c("before_20yr_date_ct") / value_f * 100
    pct_5yr = c("before_5yr_date_ct") / value_f * 100
    pct_future = c("future_date_ct") / value_f * 100

    wk_span = H.week_diff(c("min_date"), c("max_date"))
    mo_span = H.month_diff(c("min_date"), c("max_date"))
    qtr_span = H.quarter_diff(c("min_date"), c("max_date"))
    recent_ratio = 1 - c("before_5yr_date_ct") / value_f

    transactional = (
        F.when(
            (c("value_ct") > 100) & (c("distinct_value_ct") > 20)
            & (c("date_days_present") >= 2 * (wk_span + 1)),
            F.lit("Transactional Date"),
        )
        .when(
            (c("value_ct") > 20) & (c("distinct_value_ct") > 8)
            & (
                (c("date_weeks_present") == F.nullif(wk_span, F.lit(0)).cast("double") + 1)
                | (c("date_weeks_present") >= 2 * (mo_span + 1))
                | (F.round(c("distinct_value_ct") * recent_ratio)
                   >= 2 * (H.month_diff(F.date_sub(rd, 365), c("max_date")) + 1))
            ),
            F.lit("Transactional Date (Wk)"),
        )
        .when(
            (c("value_ct") > 20) & (c("distinct_value_ct") > 3)
            & (
                (c("date_months_present") == F.nullif(mo_span, F.lit(0)).cast("double") + 1)
                | (c("date_months_present") >= 5 * (H.year_diff(c("min_date"), c("max_date")) + 1))
                | (F.round(c("distinct_value_ct") * recent_ratio)
                   >= 5 * (H.year_diff(F.date_sub(rd, 365 * 5), c("max_date")) + 1))
            ),
            F.lit("Transactional Date (Mo)"),
        )
        .when(
            (c("value_ct") > 10) & (c("distinct_value_ct") > 1)
            & (c("distinct_value_ct") == qtr_span + 1),
            F.lit("Transactional Date (Qtr)"),
        )
        .otherwise(F.lit("Date (TBD)"))
    )

    return (
        F.when(pct_20yr >= 75, F.lit("Historical Date"))
        .when(pct_future >= 95, F.lit("Future Date"))
        .when(pct_future >= 50, F.lit("Schedule Date"))
        .when(pct_5yr.between(0, 20) & pct_future.between(0, 10), transactional)
        .when(c("column_type") == "date", F.lit("Date Stamp"))
        .when(c("column_type").isin("timestamp", "timestamp_ntz"),
              F.lit("DateTime Stamp"))
    )


def _layer1_initial(c, rd: Column, id_mask: str, sk_mask: str) -> Column:
    """Steps 1–2: TBD/Constant, ID masks, dates, character dates (:14-130).

    All guarded; initial value NULL, so the layer is one coalesce chain.
    """
    p1 = F.trim(H.nth_pattern(c("top_patterns"), 1))
    tbd = (c("record_ct") == 0) | (
        (c("record_ct") > 0)
        & ((c("value_ct") < 5)
           | (c("zero_length_ct") / F.nullif(c("value_ct").cast("double"), F.lit(0.0)) == 1))
    )
    constant = (c("distinct_value_ct") == 1) & (
        100.0 * (c("value_ct") - F.coalesce(c("filled_value_ct"), F.lit(0))
                 - F.coalesce(c("zero_length_ct"), F.lit(0))).cast("double")
        / c("record_ct") > 75
    )
    date_guard = (c("general_type") == "D") | (
        (c("value_ct") == c("date_ct") + F.coalesce(c("zero_length_ct"), F.lit(0)))
        & (c("value_ct") > 0)
    )
    char_date = (
        (c("distinct_pattern_ct") == 1) & (c("min_text") >= "1900")
        & (c("max_text") <= "2200") & (p1 == "NNNN-NN-NN")
    )
    char_ts = (c("distinct_pattern_ct") == 1) & p1.isin(
        "NNNN-NN-NN NN:NN:NN", "NNNN-NN-NNANN:NN:NN+NN:NN"
    )
    return F.coalesce(
        _rule(tbd, "TBD (Not enough data)"),
        _rule(constant, "Constant"),
        _rule(H.ilike(c("column_name"), sk_mask), "ID-SK"),
        _rule(H.ilike(c("column_name"), id_mask), "ID"),
        _rule(date_guard, _date_case(c, rd)),
        _rule(char_date, "Date Stamp"),
        _rule(char_ts, "DateTime Stamp"),
    )


def _layer2_process_ts(c) -> Column:
    """'Process ' prefix (:133-138) — unguarded; NULL || x stays NULL."""
    fdt = c(FDT)
    cond = c("general_type").isin("A", "D") & (
        c("column_name").rlike(PROCESS_TS_RE1) | c("column_name").rlike(PROCESS_TS_RE2)
    )
    return F.when(cond & fdt.isNotNull(), F.concat(F.lit("Process "), fdt)).otherwise(fdt)


def _layer3_periods(c, rd: Column) -> Column:
    """Guarded period rules (:142-222)."""
    p1 = F.trim(H.nth_pattern(c("top_patterns"), 1))
    frac0 = F.coalesce(c("fractional_sum"), F.lit(0.0)) == 0
    sign_frac0 = F.coalesce(F.signum(c("fractional_sum")), F.lit(0.0)) == 0
    year_hi = (F.year(rd) + 20).cast("string")
    mon_nn = rf"(?i)^{MONTHS_RE}[\s-]?\d{{1,2}}$"
    return F.coalesce(
        c(FDT),
        _rule(
            (H.ilike(c("column_name"), "%year%") | H.ilike(c("column_name"), "%yr%"))
            & (((c("min_value") >= 1900) & (c("max_value") <= F.year(rd) + 20) & frac0)
               | ((c("min_text") >= "1900") & (c("max_text") <= year_hi)
                  & (c("avg_length") == 4) & (c("avg_embedded_spaces") == 0))),
            "Period Year",
        ),
        _rule(
            (H.ilike(c("column_name"), "%qtr%") | H.ilike(c("column_name"), "%quarter%"))
            & (((c("min_value") == 1) & (c("max_value") == 4) & frac0)
               | ((c("min_text") >= "1900") & (c("max_text") <= "2200")
                  & c("avg_length").between(6, 7)
                  & H.nth_pattern(c("top_patterns"), 1).rlike(r"^\s*NNNN[-_]AN\s*$"))),
            "Period Quarter",
        ),
        _rule(
            H.ilike(c("column_name"), "%mo%")
            & (c("min_text") >= "1900") & (c("max_text") <= "2200")
            & ((c("avg_length").between(6.8, 7.2)
                & H.nth_pattern(c("top_patterns"), 1).rlike(r"^\s*NNNN[-_]NN\s*$"))
               | (c("avg_length").between(7.8, 8.2)
                  & F.upper(H.nth_pattern(c("top_patterns"), 1)).rlike(r"^\s*NNNN[-_]AAA\s*$"))),
            "Period Year-Mon",
        ),
        _rule(
            H.ilike(c("column_name"), "%mo%")
            & (((c("max_length") == 2) & c("min_text").isin("01", "1") & (c("max_text") == "12"))
               | ((c("min_value") == 1) & (c("max_value") == 12) & sign_frac0)
               | ((c("max_length") == 9) & H.ilike(c("min_text"), "april")
                  & H.ilike(c("max_text"), "september"))
               | ((c("max_length") == 3) & H.ilike(c("min_text"), "apr")
                  & H.ilike(c("max_text"), "sep"))),
            "Period Month",
        ),
        _rule(
            c("min_text").rlike(mon_nn) & c("max_text").rlike(mon_nn)
            & c("avg_length").between(5.8, 6.2) & p1.rlike(r"(?i)AAA[\s-]NN"),
            "Period Mon-NN",
        ),
        _rule(
            (H.ilike(c("column_name"), "%wk%") | H.ilike(c("column_name"), "%week%"))
            & c("distinct_value_ct").between(10, 53)
            & ((c("min_text").isin("1", "01") & c("max_text").isin("52", "53"))
               | ((c("min_value") == 1) & c("max_value").isin(52, 53) & sign_frac0)),
            "Period Week",
        ),
        _rule(
            (H.ilike(c("column_name"), "%day%") | H.ilike(c("column_name"), "%dow%"))
            & (c("distinct_value_ct") == 7)
            & (((c("min_text") == "1") & (c("max_text") == "7"))
               | ((c("min_value") == 1) & (c("max_value") == 7) & sign_frac0)
               | (H.ilike(c("min_text"), "friday") & H.ilike(c("max_text"), "wednesday")
                  & (c("max_length") == 9))
               | (H.ilike(c("min_text"), "fri") & H.ilike(c("max_text"), "wed")
                  & (c("max_length") == 3))),
            "Period DOW",
        ),
    )


def _layer4_period_overrides(c) -> Column:
    """Unconditional period overrides (:226-258)."""
    fdt = c(FDT)
    month_start = (F.dayofmonth(c("min_date")) == 1) & (F.dayofmonth(c("max_date")) == 1)
    month_end = (F.to_date(c("min_date")) == F.last_day(c("min_date"))) & (
        F.to_date(c("max_date")) == F.last_day(c("max_date"))
    )
    pg_dow_min = F.dayofweek(c("min_date")) - 1  # Postgres DOW: 0=Sunday
    pg_dow_max = F.dayofweek(c("max_date")) - 1
    return (
        F.when(
            (month_start | month_end)
            & (c("date_months_present") == c("date_days_present"))
            & (c("date_months_present") >= 12),
            F.lit("Period Month"),
        )
        .when(
            pg_dow_min.isin(0, 1, 5, 6) & (pg_dow_min == pg_dow_max)
            & (c("date_months_present") < c("date_days_present"))
            & (c("date_weeks_present") == c("date_days_present"))
            & (c("date_weeks_present") > 25),
            F.lit("Period Week"),
        )
        .when(F.lower(c("column_name")) == "month", F.lit("Period Month"))
        .when(F.lower(c("column_name")) == "week", F.lit("Period Week"))
        .when(
            (F.lower(c("column_name")) == "period") & fdt.isNotNull()
            & ~H.ilike(fdt, "period%"),
            F.lit("Period"),
        )
        .otherwise(fdt)
    )


def _layer5_address(c) -> Column:
    """Address-related block (:272-290)."""
    addr = (
        F.when(
            ((c("std_pattern_match") == "ZIP_USA")
             & (H.ilike(c("column_name"), "%zip%") | H.ilike(c("column_name"), "%postal%")))
            | F.lower(c("column_name")).isin("zip_code", "zip"),
            F.lit("Zip"),
        )
        .when(c("std_pattern_match") == "EMAIL", F.lit("Email"))
        .when(
            (H.ilike(c("column_name"), "%phone%") & c("max_length").between(7, 11))
            | (c("std_pattern_match") == "PHONE_USA"),
            F.lit("Phone"),
        )
        .when(
            (H.ilike(c("column_name"), "%address") & ~H.ilike(c("column_name"), "%email%"))
            | (c("std_pattern_match") == "STREET_ADDR"),
            F.lit("Address"),
        )
        .when(c("std_pattern_match") == "STATE_USA", F.lit("State"))
    )
    return F.coalesce(c(FDT), addr)


def _layer6_names_users(c) -> Column:
    """Given/Last Name overrides, Entity Name (guarded), user overrides
    (:322-358)."""
    full_name = F.coalesce(
        c(FDT),
        _rule(
            (c("avg_length") <= 20) & c("avg_embedded_spaces").between(0.9, 2.0)
            & (c("column_name").rlike(FULL_NAME_RE) | c("column_name").isin("name", "nm")),
            "Person Full Name",
        ),
    )
    fdt = full_name
    given_last = (
        F.when(
            (c("avg_length") <= 8) & (c("avg_embedded_spaces") < 0.2)
            & (F.lower(c("column_name")).rlike("f(i)?rst(_| |)n(a)?m")
               | F.lower(c("column_name")).rlike("(middle|mdl)(_| |)n(a)?m")
               | F.lower(c("column_name")).rlike("nick(_| |)n(a)?m")),
            F.lit("Person Given Name"),
        )
        .when(
            c("avg_length").between(5, 8) & (c("avg_embedded_spaces") < 0.2)
            & (F.lower(c("column_name")).rlike("l(a)?st(_| |)n(a)?m")
               | F.lower(c("column_name")).rlike("maiden(_| |)n(a)?m")
               | F.lower(c("column_name")).rlike("sur(_| |)n(a)?m")),
            F.lit("Person Last Name"),
        )
        .otherwise(fdt)
    )
    with_entity = F.coalesce(
        given_last,
        _rule((c("general_type") == "A") & c("column_name").rlike(ENTITY_NAME_RE),
              "Entity Name"),
    )
    return (
        F.when(c("column_name").rlike(PROCESS_USER_RE), F.lit("Process User"))
        .when(c("column_name").rlike(SYSTEM_USER_RE), F.lit("System User"))
        .otherwise(with_entity)
    )


def _alpha_class_case(c) -> Column:
    """Step 4: Measurement Text / ID / Code / Attribute / Description /
    Category (:404-440). NULL when no branch fires."""
    agg_name = (
        F.lower(c("column_name")).rlike(r"_(average|avg|count|ct|sum|total|tot)$")
        | F.lower(c("column_name")).rlike(r"^(average|avg|count|ct|sum|total|tot)_")
    )
    populated = c("value_ct") / F.nullif(c("record_ct").cast("double"), F.lit(0.0))
    uniq = c("distinct_value_ct") / F.nullif(c("value_ct").cast("double"), F.lit(0.0))
    id_or_code_shape = (
        ((c("max_length") <= 20) & (c("avg_embedded_spaces") < 0.1)
         & (populated > 0.8) & (uniq > 0.95))
        | ((c("avg_embedded_spaces") < 0.1)
           & ((F.round(c("max_length") - c("avg_length")) <= 1)
              | (F.round(c("avg_length") - c("min_length")) <= 1)))
    )
    return (
        F.when(agg_name & (c("numeric_ct") == c("value_ct")) & (c("value_ct") > 1),
               F.lit("Measurement Text"))
        .when(
            (c("includes_digit_ct") > 0) & id_or_code_shape,
            F.when(c("distinct_value_ct") > 200, F.lit("ID"))
            .when((c("distinct_value_ct") <= 200) & (c("avg_embedded_spaces") < 1),
                  F.lit("Code")),
        )
        .when(
            c("distinct_value_ct") > 200,
            F.when(
                (c("max_length") - F.round(c("avg_length")) > 1)
                & (F.round(c("avg_length")) - c("min_length") > 1),
                F.when(
                    c("avg_embedded_spaces").between(0, 3) & (c("max_length") <= 30)
                    & (H.charcount(c("max_text"), " ") < 5),
                    F.lit("Attribute"),
                ).otherwise(F.lit("Description")),
            ),
        )
        .when(
            c("distinct_value_ct").between(2, 200),
            F.when(
                ((c("avg_embedded_spaces") < 1) & (c("max_length") < 15))
                | ((H.charcount(c("top_patterns"), "A") > 0)
                   & (H.charcount(c("top_patterns"), "N") > 0)),
                F.lit("Code"),
            ).otherwise(F.lit("Category")),
        )
    )


def _numeric_final_case(c) -> Column:
    """Step 6: Sequence / ID / Attribute-Numeric / Measurement* / UNKNOWN
    (:464-509). Always non-null (UNKNOWN fallback)."""
    scale = H.decimal_scale(c("column_type"))
    int_type = H.ilike(c("column_type"), "%int%")
    value_pct = F.round(100.0 * c("value_ct").cast("double")
                        / F.nullif(c("record_ct").cast("double"), F.lit(0.0)))
    sparse = (
        ((c("percentile_25") == 0) & (c("percentile_50") == 0) & (c("percentile_75") == 0))
        | ((c("value_ct") > 0) & (c("record_ct") > 0)
           & (c("value_ct").cast("double") / c("record_ct") < 0.05))
    )
    spiky = (
        ((c("percentile_75") - c("percentile_25")) > 2 * F.abs(c("avg_value")))
        | (F.abs(c("avg_value")) > 5 * F.abs(c("percentile_50")))
    )
    return (
        F.when(
            ((c("max_value") - c("min_value") + 1) == c("distinct_value_ct"))
            & (c("fractional_sum").isNull() | (c("fractional_sum") > 0)),
            F.lit("Sequence"),
        )
        .when(
            (c("general_type") == "N")
            & F.lower(c("column_name")).rlike("(no|num|number|nbr)$")
            & (int_type | ((scale > 0) & (c("fractional_sum") == 0))),
            F.when(value_pct > 70, F.lit("ID")).otherwise(F.lit("Attribute-Numeric")),
        )
        .when((c("general_type") == "N") & sparse & spiky, F.lit("Measurement Spike"))
        .when(
            (c("general_type") == "N")
            & (int_type | (scale == 0) | ((scale > 0) & (c("fractional_sum") == 0))),
            F.lit("Measurement Discrete"),
        )
        .when((c("general_type") == "N") & (c("distinct_value_ct") > 1)
              & (c("min_value") < 0), F.lit("Measurement"))
        .when(
            (c("general_type") == "N") & (c("distinct_value_ct") > 1)
            & (c("min_value") >= 0)
            & (c("stdev_value") / F.nullif(c("avg_value"), F.lit(0.0)) >= 0.10),
            F.lit("Measurement"),
        )
        .otherwise(F.lit("UNKNOWN"))
    )


def _layer7_classes_final(c) -> Column:
    """Boolean (:366-387), alpha classes (:404-440), Flag (:448-459),
    remaining types + UNKNOWN (:464-509) — all guarded → one coalesce."""
    lo, hi = F.lower(c("min_text")), F.lower(c("max_text"))
    not_numeric_type = (~H.ilike(c("column_type"), "%numeric%")
                        & ~H.ilike(c("column_type"), "%decimal%"))
    zero_one = (c("min_value") == 0) & (c("max_value") == 1) & not_numeric_type
    bool2 = (c("distinct_value_ct") == 2) & (
        ((lo == "no") & (hi == "yes")) | ((lo == "n") & (hi == "y"))
        | ((lo == "false") & (hi == "true")) | ((lo == "0") & (hi == "1"))
        | zero_one
    )
    bool1 = (c("distinct_value_ct") == 1) & (
        (lo.isin("no", "yes") & hi.isin("no", "yes"))
        | (lo.isin("n", "y") & hi.isin("n", "y"))
        | (lo.isin("false", "true") & hi.isin("f", "t"))
        | (lo.isin("0", "1") & hi.isin("0", "1"))
        | zero_one
    )
    # :440 guard is `datatype_suggestion SIMILAR TO '(%varchar%)'` — i.e. "the
    # suggested physical type is text". Spark spells the fallback text type
    # 'string' (suggestion = lower(column_type)), so accept both spellings.
    alpha_guard = (c("general_type") == "A") & (
        H.ilike(c("datatype_suggestion"), "%varchar%")
        | (c("datatype_suggestion") == "string")
    )
    flag = (
        (c("general_type") == "A") & c("distinct_value_ct").between(3, 5)
        & (~H.ilike(c("column_type"), "%numeric%")
           | ~H.ilike(c("datatype_suggestion"), "%numeric%"))
        & (c("min_length") > 1) & (c("max_length") <= 7)
        & (H.charcount(c("top_patterns"), "A") > 0)
    )
    return F.coalesce(
        c(FDT),
        _rule((c("general_type") == "B") | bool2 | bool1, "Boolean"),
        _rule(alpha_guard, _alpha_class_case(c)),
        _rule(flag, "Flag"),
        _numeric_final_case(c),
    )


def _next_is(value: str, k: int) -> Column:
    """True when a column ``k`` ordinal positions later in the same table
    has functional type ``value``, False when none does (NULL when no column
    sits there). A range frame, so a gap in the ordinals is not skipped."""
    w = (Window.partitionBy("table_name").orderBy("ordinal_position")
         .rangeBetween(k, k))
    return F.max(F.col(FDT) == value).over(w)


def _positional_city_1() -> Column:
    """City when State is next column and Zip the one after (:293-309)."""
    return F.when(
        _next_is("State", 1) & _next_is("Zip", 2)
        & F.lower(F.col("column_name")).rlike("c(i)?ty")
        & F.col(FDT).isNotNull()
        & ~F.col(FDT).isin("State", "Zip"),
        F.lit("City")).otherwise(F.col(FDT))


def _positional_city_2() -> Column:
    """City when the NEXT column is State and this column looks city-like
    (:511-528)."""
    v = F.nullif(F.col("value_ct").cast("double"), F.lit(0.0))
    cond = (
        _next_is("State", 1)
        & (F.col("includes_digit_ct") / v < 0.05)
        & (F.col("numeric_ct") / v < 0.05)
        & (F.col("date_ct") / v < 0.05)
        & F.col("avg_length").between(7, 12)
        & (F.col("avg_embedded_spaces") < 1)
        & F.col("distinct_value_ct").between(15, 40000)
    )
    return F.when(cond, F.lit("City")).otherwise(F.col(FDT))


def _id_refinement() -> tuple:
    """ID → ID-Secondary/ID-Group → ID-Unique[-SK] → ID-FK (:532-571)."""
    c = F.col
    value_pct = F.round(100.0 * c("value_ct").cast("double")
                        / F.nullif(c("record_ct").cast("double"), F.lit(0.0)))
    uniq_pct = F.round(100.0 * c("distinct_value_ct").cast("double")
                       / F.nullif(c("value_ct").cast("double"), F.lit(0.0)))
    sec = F.when(
        c(FDT) == "ID",
        F.when((value_pct > 70) & (uniq_pct >= 75), F.lit("ID-Secondary"))
        .when((value_pct > 70) & (uniq_pct < 75), F.lit("ID-Group"))
        .otherwise(F.lit("ID")),
    ).otherwise(c(FDT))
    unique_row = ((c("record_ct") == c("distinct_value_ct"))
                  & (c("record_ct") > 50))
    uniq = (F.when(c(FDT).isin("ID", "ID-Secondary") & unique_row,
                   F.lit("ID-Unique"))
            .when((c(FDT) == "ID-SK") & unique_row, F.lit("ID-Unique-SK"))
            .otherwise(c(FDT)))
    # ID-FK: same column name is ID-Unique[-SK] in a DIFFERENT table
    unique_in = F.collect_set(
        F.when(c(FDT).isin("ID-Unique", "ID-Unique-SK"), c("table_name"))
    ).over(Window.partitionBy("column_name"))
    fk = F.when(
        F.exists(unique_in, lambda t: t != c("table_name"))
        & ~c(FDT).isin("ID-Unique", "ID-Unique-SK"),
        F.lit("ID-FK"),
    ).otherwise(c(FDT))
    return sec, uniq, fk


def _measurement_pct() -> tuple:
    """Measurement Pct refinements (:575-594)."""
    c = F.col
    name_expr = F.when(
        c(FDT).isin("Measurement", "Measurement Discrete", "UNKNOWN")
        & (c("general_type") == "N")
        & (c("min_value") >= -200) & (c("max_value") <= 200)
        & (H.ilike(c("column_name"), "%pct%") | H.ilike(c("column_name"), "%percent%")),
        F.lit("Measurement Pct"),
    ).otherwise(c(FDT))
    pct_pat = r"^N{1,3}(\.N+)?%$"

    def p(n):
        return F.trim(H.nth_pattern(c("top_patterns"), n))

    pat_expr = F.when(
        (c(FDT) == "Code")
        & c("distinct_pattern_ct").between(1, 3)
        & (c("value_ct") == c("includes_digit_ct"))
        & (c("min_text") >= "0") & (c("max_text") <= "99")
        & p(1).rlike(pct_pat)
        & (p(2).rlike(pct_pat) | (c("distinct_pattern_ct") < 2))
        & (p(3).rlike(pct_pat) | (c("distinct_pattern_ct") < 3)),
        F.lit("Measurement Pct"),
    ).otherwise(c(FDT))
    return name_expr, pat_expr


# The cascade's Columns, in application order: each one rewrites
# functional_data_type from the previous value. Assembling the 622-line
# cascade is thousands of py4j round-trips (~3-6 s per call, measured)
# repeated IDENTICALLY on every apply_inference; the Columns are unbound to
# any DataFrame, so they are memoized per session and (id_mask, sk_mask).
def _cascade(id_mask: str, sk_mask: str) -> tuple:
    c = F.col
    rd = F.to_date(c("run_date"))
    return (_layer1_initial(c, rd, id_mask, sk_mask),
            _layer2_process_ts(c),
            _layer3_periods(c, rd),
            _layer4_period_overrides(c),
            _layer5_address(c),
            _positional_city_1(),
            _layer6_names_users(c),
            _layer7_classes_final(c),
            _positional_city_2(),
            *_id_refinement(),
            *_measurement_pct())


def infer_functional_datatypes(
    profile: DataFrame,
    id_mask: str = "%id",
    sk_mask: str = "%_sk",
) -> DataFrame:
    """profile DF (with datatype_suggestion) → + functional_data_type.

    Mask defaults follow table_groups defaults
    (`dbsetup/030_initialize_new_schema_structure.sql:110-111`).
    """
    df = profile
    for step in memo(profile.sparkSession, ("cascade", id_mask, sk_mask),
                     lambda: _cascade(id_mask, sk_mask)):
        df = df.withColumn(FDT, step)
    return df


def _table_types() -> tuple:
    """(table_period, table_type) Columns over a table_name window."""
    w = Window.partitionBy("table_name")
    # cumulative unless the record count ever drops between runs, in
    # run_date order (functional_tabletype_stage.sql:20-35)
    runs = F.array_sort(F.collect_set(F.struct("run_date", "record_ct")).over(w))
    drops = F.filter(
        F.zip_with(F.slice(runs, 2, F.size(runs)), runs,
                   lambda cur, prev: cur["record_ct"] < prev["record_ct"]),
        lambda dropped: dropped)
    period = F.when(F.size(drops) == 0, F.lit("cumulative")) \
        .otherwise(F.lit("window"))

    fdt = F.col(FDT)

    def ct(cond):
        # distinct (run, type) pairs of the table meeting cond
        return F.size(F.collect_set(
            F.when(cond, F.struct("run_date", "record_ct", FDT))).over(w))

    n_id_cat = ct(H.ilike(fdt, "id%") | (fdt == "Category"))
    n_period = ct(H.ilike(fdt, "period%"))
    n_measure = ct(H.ilike(fdt, "measure%"))
    n_nonconst = ct(fdt != "Constant")
    n_txn_date = ct(H.ilike(fdt, "%transactional date%"))
    n_names = ct(fdt.isin("Entity Name", "Person Last Name",
                          "Person Given Name", "Person Full Name"))
    n_addr = ct(fdt.isin("Address", "City", "State"))
    n_uids = ct(fdt.isin("ID-Unique", "ID-Unique-SK", "ID-Secondary"))
    n_attr = ct(fdt.isin("Attribute", "Description"))
    ttype = (
        F.when(
            (n_id_cat > 0)
            & (((n_period > 0) & (n_measure > 0))
               | (n_measure.cast("double")
                  / F.nullif(n_nonconst.cast("double"), F.lit(0.0)) > 0.4)),
            F.lit("summary"),
        )
        .when((n_measure > 0) & (n_txn_date > 0), F.lit("transaction"))
        .when((n_names > 0) & (n_addr > 1), F.lit("entity"))
        .when((n_uids > 1) & (n_attr <= 1) & (n_measure <= 1), F.lit("bridge"))
        .otherwise(F.lit("domain"))
    )
    return period, ttype


def with_table_types(profile_fdt: DataFrame,
                     history: DataFrame | None = None) -> DataFrame:
    """+ table_period, table_type, functional_table_type on every row: the
    per-table census as window aggregates over table_name.

    ``history``: optional prior-run profile rows (same schema) for the
    cumulative/window check (`functional_tabletype_stage.sql:20-35`); its
    rows join the census and are dropped after it. Single-run input
    classifies as 'cumulative' exactly as the reference does.
    """
    df = profile_fdt
    if history is not None:
        cols = ["table_name", "run_date", "record_ct", FDT]
        df = (df.withColumn("_history", F.lit(False))
              .unionByName(history.select(*cols)
                           .withColumn("_history", F.lit(True)),
                           allowMissingColumns=True)
              .coalesce(1))
    period, ttype = memo(df.sparkSession, ("table_type_exprs",), _table_types)
    df = (df.withColumn("table_period", period)
          .withColumn("table_type", ttype)
          # NULL for a NULL table_name, as the census join gave
          .withColumn("functional_table_type", F.when(
              F.col("table_name").isNotNull(),
              F.concat_ws("-", "table_period", "table_type"))))
    if history is not None:
        df = df.filter(~F.col("_history")).drop("_history")
    return df


def infer_table_types(profile_fdt: DataFrame, history: DataFrame | None = None) -> DataFrame:
    """→ (table_name, table_period, table_type, functional_table_type) per
    table (a NULL table_name is a table too); see ``with_table_types``."""
    return with_table_types(profile_fdt, history).select(
        "table_name", "table_period", "table_type",
        F.concat_ws("-", "table_period", "table_type")
        .alias("functional_table_type")).distinct()
