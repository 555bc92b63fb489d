"""QUERY-type test executor — stored referential/dupe/timeframe definitions
dispatched to the relational pipelines in ``query_tests.py``.

Reference parity: ``run_test_execution.py`` executes BOTH the CAT batch and
the per-test QUERY templates (`/root/reference/testgen/template/
dbsetup_test_types/*.yaml`, run_type QUERY) in one run. The Spark engine's
CAT side lives in ``cat.py``; this module gives the QUERY side the same
TestDef-driven entry point so ``run-tests`` executes a whole stored suite,
not just its CAT subset.

Scale note: every dispatched pipeline aggregates before it joins (see
query_tests.py), so the per-test cost is group-cardinality. When the input
tables are read from bucketed storage keyed on the test's join/group
columns (io/bucketing.py), the joins and groupBys plan with ZERO shuffle
Exchange — the every-cycle referential suite becomes scan + local
agg/join, which is the point of bucketing the inputs.
"""

from __future__ import annotations

import datetime as _dt

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dataops_testgen_spark.execution import query_tests as QT
from dataops_testgen_spark.execution.cat import (CAT_OPERATORS,
                                                 RESULT_SCHEMA, _evaluate)
from dataops_testgen_spark.execution.defs import TestDef
from dataops_testgen_spark.session import local_frame

# Operator + failure threshold per QUERY type, from the same YAML catalog
# the CAT table mirrors: every referential measure counts offending
# rows/groups and fails when the count exceeds the threshold.
QUERY_OPERATORS: dict[str, str] = {
    "Combo_Match": ">", "Dupe_Rows": ">",
    "Aggregate_Balance": ">", "Aggregate_Balance_Percent": ">",
    "Aggregate_Balance_Range": ">", "Aggregate_Minimum": ">",
    "Timeframe_Combo_Match": ">", "Timeframe_Combo_Gain": ">",
    "CUSTOM": ">",
}
# _evaluate resolves the operator through the shared per-type table
CAT_OPERATORS.update(QUERY_OPERATORS)

QUERY_TYPES = frozenset(QUERY_OPERATORS)

_BALANCE_MODES = {
    "Aggregate_Balance": "exact",
    "Aggregate_Balance_Percent": "percent",
    "Aggregate_Balance_Range": "range",
    "Aggregate_Minimum": "minimum",
}


def _names(value, default: list[str] | None = None) -> list[str]:
    """Comma-separated column list param (stored defs carry strings)."""
    if value is None:
        return default or []
    if isinstance(value, (list, tuple)):
        return [str(v) for v in value]
    return [v.strip() for v in str(value).split(",") if v.strip()]


def _num(value) -> float | None:
    return None if value is None else float(value)


def _struct_key(struct_keys, table: str, keys: list[str],
                df: DataFrame) -> str | None:
    """The materialized null-safe struct key column to dispatch on, when
    the bucket layout's source keys line up EXACTLY with this test's
    keys (order matters — the struct fields are positional) and the
    column is really present; else None (raw-key path)."""
    from dataops_testgen_spark.io.bucketing import NULL_SAFE_KEY_COL

    if (struct_keys and struct_keys.get(table) == list(keys)
            and NULL_SAFE_KEY_COL in df.columns):
        return NULL_SAFE_KEY_COL
    return None


def query_test_detail(tables: dict[str, DataFrame], td: TestDef,
                      struct_keys: dict[str, list[str]] | None = None,
                      ) -> DataFrame:
    """The offending-rows detail relation for one QUERY-type TestDef —
    the drill-down surface; the measure is derived from it.

    ``struct_keys`` ({table: source key cols}, from
    io/bucketing.struct_key_map) switches Combo_Match /
    Aggregate_Balance* to the materialized-struct-key plans — zero
    shuffle Exchange over null-safe-bucketed tables — whenever a test's
    group keys equal the table's bucket keys."""
    t = td.test_type
    df = tables[td.table_name]
    subset = td.p("subset_condition")
    if t == "Dupe_Rows":
        return QT.dupe_rows(df, _names(td.p("groupby_names"),
                                       _names(td.column_name)), subset)
    if t == "Combo_Match":
        match_df = tables[td.p("match_table_name")]
        keys = _names(td.p("groupby_names"), _names(td.column_name))
        mkeys = _names(td.p("match_groupby_names"), keys)
        gk = _struct_key(struct_keys, td.table_name, keys, df)
        mgk = _struct_key(struct_keys, td.p("match_table_name"), mkeys,
                          match_df)
        return QT.combo_match(
            df, keys, match_df, mkeys,
            subset_condition=subset,
            match_subset_condition=td.p("match_subset_condition"),
            struct_key_col=gk if (gk and mgk) else None)
    if t in _BALANCE_MODES:
        match_df = tables[td.p("match_table_name")]
        groupby = _names(td.p("groupby_names"))
        mgroupby = _names(td.p("match_groupby_names"), groupby)
        total = F.expr(td.p("agg_expression",
                            f"SUM({td.column_name})"))
        match_total = F.expr(td.p("match_agg_expression",
                                  f"SUM({td.p('match_column_names')})"))
        gk = _struct_key(struct_keys, td.table_name, groupby, df)
        mgk = _struct_key(struct_keys, td.p("match_table_name"),
                          mgroupby, match_df)
        return QT.aggregate_balance(
            df, groupby, total, match_df,
            mgroupby, match_total,
            struct_key_col=gk if (gk and mgk) else None,
            mode=_BALANCE_MODES[t],
            lower_tolerance=_num(td.p("lower_tolerance")),
            upper_tolerance=_num(td.p("upper_tolerance")),
            subset_condition=subset,
            match_subset_condition=td.p("match_subset_condition"),
            having_condition=td.p("having_condition"),
            match_having_condition=td.p("match_having_condition"))
    if t == "CUSTOM":
        # user-supplied SQL returning the offending rows (ref
        # test_types_CUSTOM.yaml: any returned row is a failure). The
        # data tables are exposed as temp views; Spark SQL IS the
        # dialect, so no per-flavor template substitution is needed.
        sql = td.p("custom_query")
        if not sql:
            raise ValueError("CUSTOM test without custom_query")
        spark = df.sparkSession
        for name, tdf in tables.items():
            tdf.createOrReplaceTempView(name)
        return spark.sql(sql)
    if t == "Timeframe_Combo_Match":
        return QT.timeframe_combo_match(
            df, _names(td.p("groupby_names"), _names(td.column_name)),
            td.p("window_date_column"), int(td.p("window_days")), subset)
    if t == "Timeframe_Combo_Gain":
        return QT.timeframe_combo_gain(
            df, _names(td.p("groupby_names"), _names(td.column_name)),
            td.p("window_date_column"), int(td.p("window_days")), subset)
    raise ValueError(f"not a QUERY test type: {t!r}")


def _measure(tables: dict[str, DataFrame], td: TestDef,
             struct_keys: dict[str, list[str]] | None = None) -> float:
    detail = query_test_detail(tables, td, struct_keys)
    if td.test_type == "Dupe_Rows":
        return float(QT.dupe_rows_measure(detail))
    return float(detail.count())


def run_query_tests(
    tables: dict[str, DataFrame],
    defs: list[TestDef],
    run_date: _dt.date | str | None = None,
    struct_keys: dict[str, list[str]] | None = None,
) -> DataFrame | None:
    """Execute QUERY-type tests; returns a RESULT_SCHEMA DataFrame (None
    when ``defs`` is empty). Per-test error isolation mirrors the CAT
    engine: a missing table / bad param produces an Error row, never a
    sunk run."""
    if not defs:
        return None
    rows: list[dict] = []
    spark = None
    for td in defs:
        if td.table_name in tables:
            spark = tables[td.table_name].sparkSession
        try:
            rows.append(_evaluate(td, _measure(tables, td, struct_keys)))
        except Exception as exc:  # noqa: BLE001 — per-test isolation
            rec = _evaluate(td, None)
            rec["result_code"] = None
            rec["result_status"] = "Error"
            rec["result_message"] = f"{type(exc).__name__}: {exc}"[:500]
            rows.append(rec)
    if spark is None:
        from dataops_testgen_spark.session import get_spark
        spark = get_spark()
    data = [tuple(r.get(f.name) for f in RESULT_SCHEMA.fields) for r in rows]
    return local_frame(spark, data, RESULT_SCHEMA)
