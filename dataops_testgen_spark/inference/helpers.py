"""Shared expression helpers for the inference rule cascades.

Mirrors the reference's Postgres helper functions
(`/root/reference/testgen/template/dbsetup/020_create_standard_functions_sprocs.sql`):
``datediff(unit, a, b)`` (:3), ``fn_charcount`` (:27), ``fn_parsefreq`` (:37),
plus ILIKE / SIMILAR-TO translation for Spark.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def ilike(col: Column, pattern: str) -> Column:
    """Postgres ILIKE — case-insensitive LIKE."""
    return F.lower(col).like(pattern.lower())


def charcount(col: Column, search: str) -> Column:
    """fn_charcount: occurrences of ``search`` in ``col`` (:27-34)."""
    return (F.length(col) - F.length(F.replace(col, F.lit(search), F.lit("")))) / len(search)


def nth_pattern(top_patterns: Column, n: int) -> Column:
    """The n-th (1-based) most frequent value pattern.

    Our storage format is ``pattern:ct | pattern:ct | ...`` (rank order); the
    reference accesses the same information via
    ``SPLIT_PART(top_patterns,'|',2·n)`` / ``fn_parsefreq(top_patterns,n,2)``.
    Patterns may contain ':' (e.g. NN:NN:NN) but the count suffix is always
    ``:<digits>`` at the end, hence the anchored extract.
    """
    part = F.get(F.split(top_patterns, r" \| "), n - 1)
    return F.regexp_extract(part, r"^(.*):[0-9]+$", 1)


def nth_pattern_count(top_patterns: Column, n: int) -> Column:
    """Count of the n-th most frequent pattern (reference format's
    ``SPLIT_PART(top_patterns,'|',2n-1)``)."""
    part = F.get(F.split(top_patterns, r" \| "), n - 1)
    return F.nullif(F.regexp_extract(part, r":([0-9]+)$", 1), F.lit("")).cast("long")


def nth_freq_value(top_freq_values: Column, n: int) -> Column:
    """n-th most frequent VALUE (fn_parsefreq(top_freq_values, n, 1))."""
    part = F.get(F.split(top_freq_values, r" \| "), n - 1)
    return F.regexp_extract(part, r"^(.*):[0-9]+$", 1)


def nth_freq_count(top_freq_values: Column, n: int) -> Column:
    """n-th most frequent value's count (fn_parsefreq(top_freq_values, n, 2))."""
    part = F.get(F.split(top_freq_values, r" \| "), n - 1)
    return F.nullif(F.regexp_extract(part, r":([0-9]+)$", 1), F.lit("")).cast("long")


def freq_values_array(top_freq_values: Column) -> Column:
    """All stored top-frequency values (fn_extract_top_values semantics)."""
    return F.transform(
        F.split(top_freq_values, r" \| "),
        lambda x: F.regexp_extract(x, r"^(.*):[0-9]+$", 1),
    )


def patterns_array(top_patterns: Column) -> Column:
    """All stored top pattern texts."""
    return F.transform(
        F.split(top_patterns, r" \| "),
        lambda x: F.regexp_extract(x, r"^(.*):[0-9]+$", 1),
    )


# -- Postgres-custom datediff semantics (020_...sql:3-25) --------------------
# DAY: whole days; WEEK: Monday-truncated week boundaries crossed;
# MONTH: calendar-month boundaries crossed; YEAR: calendar years crossed.
# QUARTER: the reference computes `4*yeardiff + (qtr(b) - MONTH(a))` — a bug
# (month vs quarter); we implement the evident intent: quarter boundaries
# crossed.

def day_diff(a: Column, b: Column) -> Column:
    return F.datediff(F.to_date(b), F.to_date(a))


def week_diff(a: Column, b: Column) -> Column:
    return (F.datediff(F.date_trunc("week", b), F.date_trunc("week", a)) / 7).cast("long")


def month_diff(a: Column, b: Column) -> Column:
    return (12 * (F.year(b) - F.year(a)) + (F.month(b) - F.month(a))).cast("long")


def quarter_diff(a: Column, b: Column) -> Column:
    return (4 * (F.year(b) - F.year(a)) + (F.quarter(b) - F.quarter(a))).cast("long")


def year_diff(a: Column, b: Column) -> Column:
    return (F.year(b) - F.year(a)).cast("long")


def pct_of(num: Column, den: Column) -> Column:
    """100·num/den with NULL-safe denominator (fn_pct semantics)."""
    return 100.0 * num / F.nullif(den.cast("double"), F.lit(0.0))


def decimal_scale(column_type: Column) -> Column:
    """Declared scale of a decimal(p,s) type string, else NULL.

    The reference probes `RTRIM(SPLIT_PART(column_type, ',', 2), ')')`.
    """
    return F.nullif(F.regexp_extract(column_type, r",\s*(\d+)\s*\)", 1), F.lit("")).cast("int")


def declared_size(column_type: Column) -> Column:
    """Declared size from e.g. varchar(30) (datatype_suggestions.sql:147)."""
    return F.nullif(F.regexp_extract(column_type, r"\((\d+)\)", 1), F.lit("")).cast("int")
