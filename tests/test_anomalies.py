"""Golden tests for hygiene-issue screening (SURVEY §2.3).

Each fixture column is engineered to trip exactly the targeted anomaly
criteria from `template/dbsetup_anomaly_types/*.yaml`.
"""

from __future__ import annotations

import datetime as dt

import pytest

from dataops_testgen_spark.anomalies import screen_anomalies
from dataops_testgen_spark.inference import apply_inference
from dataops_testgen_spark.profiling.profiler import profile_table

RUN_DATE = "2026-08-01"


def _screen(spark, rows, schema, table="anomfix", run_date=RUN_DATE):
    df = spark.createDataFrame(rows, schema)
    prof = profile_table(df, table, run_date=run_date)
    return screen_anomalies(apply_inference(prof))


@pytest.fixture(scope="module")
def hygiene(spark):
    n = 300
    rows = []
    for i in range(n):
        rows.append((
            f" lead{i % 10}" if i % 7 == 0 else f"val{i % 10}",   # lead_sp
            '"quoted"' if i % 11 == 0 else f"plain{i % 9}",       # quoted
            "N/A" if i % 13 == 0 else f"city name {i % 8}",       # blanks (filled)
            None,                                                  # all_null
            f"{1 + i % 25}" if i % 50 == 0 else f"word{i % 25}",  # few_numeric (2%)
            ["in", "inch", "inches"][i % 3],                      # uom variants
            "not-a-date" if i % 60 == 0 else f"2024-0{(i % 9) + 1}-15",  # 98% dates
            "NaNish" if i % 60 == 0 else str(100 + i % 150),       # 98% numbers
        ))
    schema = ("lead_sp string, quoted string, blankish string, all_null string,"
              " few_numeric string, uom string, char_date string, char_num string")
    out = _screen(spark, rows, schema)
    return {(r["anomaly_type"], r["column_name"]) for r in out.collect()}


def test_leading_spaces(hygiene):
    assert ("Leading_Spaces", "lead_sp") in hygiene


def test_quoted_values(hygiene):
    assert ("Quoted_Values", "quoted") in hygiene


def test_non_standard_blanks(hygiene):
    assert ("Non_Standard_Blanks", "blankish") in hygiene


def test_no_values(hygiene):
    assert ("No_Values", "all_null") in hygiene


def test_small_numeric_value_ct(hygiene):
    assert ("Small_Numeric_Value_Ct", "few_numeric") in hygiene


def test_variant_coded_values(hygiene):
    assert ("Variant_Coded_Values", "uom") in hygiene


def test_char_column_dates_and_numbers(hygiene):
    assert ("Char_Column_Date_Values", "char_date") in hygiene
    assert ("Char_Column_Number_Values", "char_num") in hygiene


def test_multi_col_types(spark):
    t1 = spark.createDataFrame([(i, "x") for i in range(100)], "shared_col long, a string")
    t2 = spark.createDataFrame([("s", 1.0) for _ in range(100)], "shared_col string, b double")
    p = profile_table(t1, "t1", run_date=RUN_DATE).unionByName(
        profile_table(t2, "t2", run_date=RUN_DATE))
    out = screen_anomalies(apply_inference(p))
    hits = {(r["anomaly_type"], r["column_name"]) for r in out.collect()}
    assert ("Multiple_Types_Major", "shared_col") in hits


def test_recency_anomalies(spark):
    old = dt.date(2024, 1, 1)
    rows = [(old + dt.timedelta(days=i % 200),) for i in range(100)]
    out = _screen(spark, rows, "event_date date", "stale_table")
    hits = {(r["anomaly_type"], r["table_name"]) for r in out.collect()}
    assert ("Recency_One_Year", "stale_table") in hits

    recent = dt.date.fromisoformat(RUN_DATE) - dt.timedelta(days=250)
    rows2 = [(recent + dt.timedelta(days=i % 30),) for i in range(100)]
    out2 = _screen(spark, rows2, "event_date date", "stalish")
    hits2 = {(r["anomaly_type"], r["table_name"]) for r in out2.collect()}
    assert ("Recency_Six_Months", "stalish") in hits2


def test_potential_pii_prevalence(spark):
    rows = [(f"Emp Name {i}", f"{i % 60:03d}-{i % 90:02d}-{1000 + i:04d}")
            for i in range(200)]
    out = _screen(spark, rows, "emp_name string, ssn_col string", "piifix")
    hits = {r["anomaly_type"]: r for r in out.collect()}
    assert "Potential_PII" in hits
    # risk multiplier CASE on pii class letter — A/ID/SSN → NULL formula → NULL
    pii_rows = [r for r in out.collect() if r["anomaly_type"] == "Potential_PII"]
    assert all(r["dq_prevalence"] is None for r in pii_rows)


def test_prevalence_values(spark):
    rows = [(" x" if i < 30 else f"y{i}",) for i in range(300)]
    out = _screen(spark, rows, "lead_sp string", "prevfix")
    row = [r for r in out.collect() if r["anomaly_type"] == "Leading_Spaces"][0]
    # 30 leading-space rows / 300 records × risk 0.66
    assert row["dq_prevalence"] == pytest.approx(30 / 300 * 0.66)


def test_no_false_fires_on_clean_numeric(spark):
    rows = [(float(i % 97) * 1.37,) for i in range(300)]
    out = _screen(spark, rows, "amt double", "cleanfix")
    types = {r["anomaly_type"] for r in out.collect()}
    assert "Leading_Spaces" not in types
    assert "No_Values" not in types


def test_benford_nonconformity_rule(spark):
    """33rd catalog rule (beyond the reference's 32): a uniform
    multi-magnitude numeric violates Benford's first-digit law and
    fires with prevalence = TVD x 0.33; a genuinely Benford-distributed
    column does not fire; id-typed and single-magnitude columns are
    ineligible regardless of distribution."""
    import math
    import random

    rng = random.Random(5)
    n = 2000
    rows = []
    for i in range(n):
        # uniform over [100, 1e6): first digits near-uniform, wildly
        # non-Benford at n=2000
        uniform = rng.uniform(100.0, 1_000_000.0)
        # exact Benford: log-uniform mantissa over 3 decades
        benford = 10.0 ** rng.uniform(2.0, 5.0)
        # single magnitude: uniform [100, 999] — excluded by the
        # multi-magnitude precondition even though it's non-Benford
        narrow = rng.uniform(100.0, 999.0)
        rows.append((i + 1, uniform, benford, narrow))
    out = _screen(spark, rows,
                  "acct_id long, amount_uniform double, "
                  "amount_benford double, amount_narrow double")
    fired = {r["column_name"]: r for r in
             out.filter("anomaly_type = 'Benford_Nonconformity'").collect()}
    assert set(fired) == {"amount_uniform"}
    row = fired["amount_uniform"]
    assert row["likelihood"] == "Possible"
    # TVD between uniform-ish and Benford shares is large; x0.33 risk
    assert 0.03 < row["dq_prevalence"] < 0.33


def test_benford_counts_merge_exactly(spark):
    """The fused benford_counts census is additive: merging disjoint
    slice profiles reproduces the whole-table digit counts exactly, so
    the incremental screen fires the Benford rule identically."""
    from pyspark.sql import functions as F

    from dataops_testgen_spark.profiling.merge import merge_profiles
    from dataops_testgen_spark.profiling.profiler import profile_table

    df = (spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
          .select("o_orderkey", "o_totalprice"))
    full = profile_table(df, "orders", run_date=RUN_DATE)
    s1 = profile_table(df.filter("o_orderkey % 2 = 0"), "orders",
                       run_date=RUN_DATE, keep_sketches=True)
    s2 = profile_table(df.filter("o_orderkey % 2 = 1"), "orders",
                       run_date=RUN_DATE, keep_sketches=True)
    merged = merge_profiles(s1.unionByName(s2))
    want = {r["column_name"]: r["benford_counts"] for r in
            full.select("column_name", "benford_counts").collect()}
    got = {r["column_name"]: r["benford_counts"] for r in
           merged.select("column_name", "benford_counts").collect()}
    assert got == want
    assert sum(want["o_totalprice"]) > 0


def test_correlation_screen(spark):
    """Derived/duplicate numeric columns flag at |r| >= threshold; a
    noisy independent column doesn't; a constant column has undefined
    (NULL) correlation and never flags; pandas corr agrees."""
    import numpy as np
    import pandas as pd

    from dataops_testgen_spark.anomalies.correlation import (
        correlation_screen)

    rng = np.random.default_rng(23)
    n = 1000
    base = rng.normal(100, 20, n)
    pdf = pd.DataFrame({
        "amount": base,
        "amount_cents": base * 100.0,          # exact derived copy
        "noise": rng.normal(0, 1, n),          # independent
        "constant": np.full(n, 7.0),
    })
    df = spark.createDataFrame(pdf)
    out = {(r["col_a"], r["col_b"]): r for r in
           correlation_screen(df, min_n=500).collect()}
    assert len(out) == 6                        # C(4,2) pairs
    assert out[("amount", "amount_cents")]["flagged"]
    assert abs(out[("amount", "amount_cents")]["corr"] - 1.0) < 1e-12
    assert not out[("amount", "noise")]["flagged"]
    got = out[("amount", "noise")]["corr"]
    want = float(pdf["amount"].corr(pdf["noise"]))
    assert abs(got - want) < 1e-9
    const = out[("amount", "constant")]
    assert const["corr"] is None and not const["flagged"]
    assert all(r["n"] == n for r in out.values())

    import pytest as _pt
    with _pt.raises(ValueError, match="at least two"):
        correlation_screen(df, cols=["amount"])
    with _pt.raises(ValueError, match="duplicate column"):
        correlation_screen(df, cols=["amount", "amount"])
    # below min_n: the derived pair must NOT flag
    small = spark.createDataFrame(pdf.head(100))
    tiny = {(r["col_a"], r["col_b"]): r for r in
            correlation_screen(small, min_n=500).collect()}
    assert not tiny[("amount", "amount_cents")]["flagged"]


def test_correlation_wide_dispatch_matches_fused(spark):
    """Forcing the Arrow matmul path (max_fused_pairs below the pair
    count) reproduces the fused-agg results pair by pair — including
    pairwise-deletion n under NULLs and the NULL corr of a constant
    column."""
    from dataops_testgen_spark.anomalies.correlation import (
        correlation_screen)

    rows = []
    for i in range(700):
        amount = 100.0 + (i % 83) * 1.7
        rows.append((
            amount if i % 7 else None,            # nulls in col a
            amount * 100.0,
            float((i * 2654435761) % 997) if i % 5 else None,
            7.0))
    df = spark.createDataFrame(
        rows, "amount double, cents double, noise double, konst double")
    fused = {(r["col_a"], r["col_b"]): r
             for r in correlation_screen(df, min_n=500).collect()}
    wide = {(r["col_a"], r["col_b"]): r
            for r in correlation_screen(df, min_n=500,
                                        max_fused_pairs=1).collect()}
    assert set(fused) == set(wide) and len(fused) == 6
    for k, f in fused.items():
        w = wide[k]
        assert w["n"] == f["n"], k
        assert w["flagged"] == f["flagged"], k
        if f["corr"] is None:
            assert w["corr"] is None, k
        else:
            assert abs(w["corr"] - f["corr"]) < 1e-9, k
    assert fused[("amount", "cents")]["flagged"]
    assert fused[("amount", "cents")]["n"] == 600      # nulls excluded
    assert fused[("amount", "konst")]["corr"] is None


def test_correlation_wide_empty_matches_fused(spark):
    """An EMPTY input table yields one row per pair with n=0 / corr NULL
    / flagged False on BOTH dispatch paths (the r11 ADVICE finding: the
    wide kernel used to return zero rows because no Arrow batch ever
    emitted partials)."""
    from dataops_testgen_spark.anomalies.correlation import (
        correlation_screen)

    df = spark.createDataFrame([], "a double, b double, c double")
    for kwargs in ({}, {"max_fused_pairs": 1}):
        rows = {(r["col_a"], r["col_b"]): r
                for r in correlation_screen(df, **kwargs).collect()}
        assert set(rows) == {("a", "b"), ("a", "c"), ("b", "c")}, kwargs
        for r in rows.values():
            assert r["n"] == 0 and r["corr"] is None and not r["flagged"]


def test_correlation_wide_table_completes(spark):
    """A 100-numeric-column table (4950 pairs) routes to the Arrow
    kernel by default — no K²-wide expression reaches Catalyst, the
    screen completes, and the seeded derived pair still flags."""
    import numpy as np
    import pandas as pd

    from dataops_testgen_spark.anomalies.correlation import (
        MAX_FUSED_PAIRS, correlation_screen)

    k, n = 100, 600
    assert k * (k - 1) // 2 > MAX_FUSED_PAIRS
    rng = np.random.default_rng(7)
    data = {f"c{i:03d}": rng.normal(0, 1, n) for i in range(k - 1)}
    data["d000"] = data["c000"] * 3.0 + 1.0          # derived from c000
    df = spark.createDataFrame(pd.DataFrame(data))
    out = correlation_screen(df, min_n=500)
    rows = out.collect()
    assert len(rows) == k * (k - 1) // 2
    flagged = {(r["col_a"], r["col_b"]) for r in rows if r["flagged"]}
    assert flagged == {("c000", "d000")}


def test_correlation_screen_spearman(spark):
    """Rank method: agrees with pandas' Spearman on NULL-free data
    (average ranks, ties included), flags a monotone-nonlinear derived
    column (reciprocal: rho = -1) that Pearson leaves unflagged, and
    rejects unknown methods."""
    import numpy as np
    import pandas as pd

    from dataops_testgen_spark.anomalies.correlation import (
        correlation_screen)

    rng = np.random.default_rng(13)
    n = 700
    base = rng.uniform(10, 1000, n)
    base[5] = base[6] = base[7]                   # seeded ties
    pdf = pd.DataFrame({
        "amount": base,
        "inv": 1.0 / base,                        # antitone derivation
        "tiers": np.round(base / 100.0),          # heavy ties, monotone-ish
        "noise": rng.normal(0, 1, n),
    })
    df = spark.createDataFrame(pdf)
    sp = {(r["col_a"], r["col_b"]): r for r in
          correlation_screen(df, method="spearman", min_n=500).collect()}
    pe = {(r["col_a"], r["col_b"]): r for r in
          correlation_screen(df, method="pearson", min_n=500).collect()}
    want = pdf.corr(method="spearman")
    for (a, b), r in sp.items():
        assert abs(r["corr"] - float(want.loc[a, b])) < 1e-9, (a, b)
    assert sp[("amount", "inv")]["flagged"]
    assert abs(sp[("amount", "inv")]["corr"] + 1.0) < 1e-12
    assert not pe[("amount", "inv")]["flagged"]   # Pearson misses it
    assert abs(pe[("amount", "inv")]["corr"]) < 0.9
    assert not sp[("amount", "noise")]["flagged"]

    import pytest as _pt
    with _pt.raises(ValueError, match="unknown method"):
        correlation_screen(df, method="kendall")


def test_rank_transform_distributed_prefix(spark):
    """The r12 distributed rank: a high-distinct column spread across
    MULTIPLE range partitions still gets exact pandas-identical average
    ranks (cross-partition offsets + local prefix sums must compose to
    the global #smaller), including ties that straddle nothing locally."""
    import numpy as np
    import pandas as pd

    from dataops_testgen_spark.anomalies.correlation import _rank_transform

    rng = np.random.default_rng(23)
    n = 20000                      # >> one range partition at 32 shuffle
    a = rng.normal(0, 1000, n).round(1)          # heavy ties
    b = rng.uniform(0, 1, n)                      # ~all distinct
    pdf = pd.DataFrame({"a": a, "b": b})
    got = (_rank_transform(spark.createDataFrame(pdf), ["a", "b"])
           .toPandas())
    assert len(got) == n
    # the rank is a pure function of the value, so multiset equality
    # against pandas' average ranks is an exact end-to-end check (the
    # value->rank PAIRING is separately pinned by the spearman-vs-pandas
    # correlation parity test)
    assert sorted(np.round(got["a"], 9)) == sorted(
        np.round(pdf["a"].rank(method="average"), 9))
    assert sorted(np.round(got["b"], 9)) == sorted(
        np.round(pdf["b"].rank(method="average"), 9))


def test_rank_transform_wide_dispatch(spark):
    """r12 verdict #5: above wide_threshold columns the ranking routes
    to the single-pass melt/pivot kernel. Pin (a) exact parity with the
    per-column join chain (including NULLs and an all-NULL row), and
    (b) constant plan depth — the join count must NOT grow with K."""
    import numpy as np
    import pandas as pd

    from dataops_testgen_spark.anomalies.correlation import (
        _rank_transform)

    rng = np.random.default_rng(37)
    n, k = 400, 12
    pdf = pd.DataFrame({f"c{i}": rng.normal(0, 10, n).round(1)
                        for i in range(k)})
    for i in range(k):                       # sprinkle NULLs unevenly
        pdf.loc[pdf.index % (i + 3) == 0, f"c{i}"] = np.nan
    pdf.loc[7, :] = np.nan                   # one all-NULL row
    cols = list(pdf.columns)
    df = spark.createDataFrame(pdf)

    chain = _rank_transform(df, cols, wide_threshold=999)
    kernel = _rank_transform(df, cols, wide_threshold=4)
    assert chain.count() == n and kernel.count() == n
    # ranks are a pure function of the value: multiset equality per
    # column is an exact check (pairing pinned by the spearman parity
    # tests); NaN placement must agree too
    for c in cols:
        a = sorted(r[c] for r in chain.collect() if r[c] is not None)
        b = sorted(r[c] for r in kernel.collect() if r[c] is not None)
        assert a == b, c
        assert (sum(1 for r in chain.collect() if r[c] is None)
                == sum(1 for r in kernel.collect() if r[c] is None))
        exp = sorted(pdf[c].rank(method="average").dropna())
        assert np.allclose(b, exp), c

    # plan depth: the kernel path's join count is constant in K
    j4 = kernel._jdf.queryExecution().optimizedPlan().toString().count(
        "Join")
    wide_df = spark.createDataFrame(pd.DataFrame(
        {f"w{i}": rng.normal(0, 1, 50) for i in range(40)}))
    j40 = _rank_transform(
        wide_df, list(wide_df.columns),
        wide_threshold=4)._jdf.queryExecution().optimizedPlan() \
        .toString().count("Join")
    assert j40 == j4 <= 4
    # ...whereas the chain path grows with K (the hazard being removed)
    jchain = chain._jdf.queryExecution().optimizedPlan().toString().count(
        "Join")
    assert jchain >= k


def test_correlation_screen_plan_shape(spark):
    """Narrow path: ONE fused aggregate over one scan — no join, no
    unioned re-scans, the explode rides the single agg row. Wide path:
    no K-wide aggregate expression list reaches Catalyst (the co-moments
    come from the Arrow kernel), ONE data scan, and the only join is the
    model-sized static-pair-list completion (r12 ADVICE fix: empty
    inputs still yield one row per pair) — never a data-sized shuffle
    join."""
    import numpy as np
    import pandas as pd

    from dataops_testgen_spark.anomalies.correlation import (
        correlation_screen)

    rng = np.random.default_rng(5)
    df = spark.createDataFrame(pd.DataFrame(
        {f"c{i}": rng.normal(0, 1, 50) for i in range(6)}))
    narrow = correlation_screen(df)
    narrow.collect()
    plan = narrow._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan
    assert plan.count("Scan ExistingRDD") <= 1

    wide = correlation_screen(df, max_fused_pairs=1)
    wide.collect()
    wplan = wide._jdf.queryExecution().executedPlan().toString()
    # the pair-list completion join must stay model-sized: no sort-merge
    # (shuffle) join, and exactly one scan of the DATA relation — the
    # static (i, j) list arrives as a local relation
    assert "SortMergeJoin" not in wplan
    assert wplan.count("Scan ExistingRDD") <= 1
    # the per-pair moments arrive via mapInPandas, not agg expressions
    assert "FlatMapGroupsInPandas" in wplan or "MapInPandas" in wplan


def test_correlation_anomalies_cascade(spark):
    """correlation_anomalies qualifies columns from the inferred profile
    (IDs / periods / coded categories excluded even when perfectly
    correlated), anchors the anomaly on the later column, and scores
    prevalence r² x 0.33."""
    import numpy as np
    import pandas as pd

    from dataops_testgen_spark.anomalies.correlation import (
        correlation_anomalies)

    rng = np.random.default_rng(11)
    n = 800
    base = rng.normal(100, 20, n)
    df = spark.createDataFrame(pd.DataFrame({
        "amount": base,
        "amount_cents": base * 100.0,
        "noise": rng.normal(0, 1, n),
        "row_id": np.arange(n, dtype=float) * 2.0,   # correlated w/ itself
        "row_id_copy": np.arange(n, dtype=float),    # ...but fdt=ID: skip
    }))
    prof = spark.createDataFrame(
        [("t", "amount", "N", "Measurement"),
         ("t", "amount_cents", "N", "Measurement"),
         ("t", "noise", "N", "Measurement"),
         ("t", "row_id", "N", "ID"),
         ("t", "row_id_copy", "N", "ID")],
        "table_name string, column_name string, general_type string,"
        " functional_data_type string")
    out = correlation_anomalies({"t": df}, prof).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["table_name"], r["column_name"]) == ("t", "amount_cents")
    assert r["anomaly_type"] == "Correlated_Columns"
    assert r["data_object"] == "Correlation"
    assert r["likelihood"] == "Possible"
    assert "amount" in r["detail"]
    assert abs(r["dq_prevalence"] - 0.33) < 1e-3     # r ~ 1
    # fewer than two eligible columns -> table skipped -> None
    prof2 = prof.filter("column_name = 'amount'")
    assert correlation_anomalies({"t": df}, prof2) is None


def test_correlation_anomalies_spearman_pass(spark):
    """spearman=True adds the rank pass: a reciprocal-derived column
    (Pearson far below the gate, rho = -1) surfaces as Correlated_Columns
    with a 'Monotone-correlated' detail and prevalence rho² x risk; pairs
    already flagged by Pearson are NOT duplicated by the rank pass; with
    spearman=False the monotone pair stays invisible."""
    import numpy as np
    import pandas as pd

    from dataops_testgen_spark.anomalies.correlation import (
        correlation_anomalies)

    rng = np.random.default_rng(17)
    n = 800
    # several orders of magnitude: 1/x over a NARROW range is locally
    # linear and Pearson would catch it too — the monotone gap needs
    # real curvature
    base = np.exp(rng.uniform(0.0, 7.0, n))
    df = spark.createDataFrame(pd.DataFrame({
        "amount": base,
        "amount_cents": base * 100.0,       # linear -> Pearson flags
        "amount_inv": 1.0 / base,           # monotone -> spearman only
        "noise": rng.normal(0, 1, n),
    }))
    prof = spark.createDataFrame(
        [("t", c, "N", "Measurement")
         for c in ("amount", "amount_cents", "amount_inv", "noise")],
        "table_name string, column_name string, general_type string,"
        " functional_data_type string")
    plain = correlation_anomalies({"t": df}, prof).collect()
    assert {r["column_name"] for r in plain} == {"amount_cents"}

    out = correlation_anomalies({"t": df}, prof, spearman=True).collect()
    by_col = {}
    for r in out:
        by_col.setdefault(r["column_name"], []).append(r)
    # linear pair: exactly one row, the Pearson one (no rank duplicate);
    # note cents/inv are ALSO monotone-related to each other, so inv
    # carries rank rows against both partners
    assert len(by_col["amount_cents"]) == 1
    assert by_col["amount_cents"][0]["detail"].startswith("Correlated with")
    inv_rows = by_col["amount_inv"]
    assert all(r["detail"].startswith("Monotone-correlated with")
               for r in inv_rows)
    assert {r["anomaly_type"] for r in inv_rows} == {"Correlated_Columns"}
    amt = [r for r in inv_rows if "with amount:" in r["detail"]]
    assert len(amt) == 1 and abs(amt[0]["dq_prevalence"] - 0.33) < 1e-3
    assert "rho=" in amt[0]["detail"]
    assert "noise" not in by_col


def test_group_dependence_screen(spark):
    """eta² matches the numpy ANOVA reference (pairwise non-null scope),
    a rate-table-encoded measure flags, independent measures don't, and
    validation rejects overlapping/empty column lists."""
    import numpy as np
    import pandas as pd

    from dataops_testgen_spark.anomalies.dependence import (
        group_dependence_screen)

    rng = np.random.default_rng(29)
    n = 900
    cat = rng.choice(["a", "b", "c"], n)
    rates = {"a": 10.0, "b": 55.0, "c": 200.0}
    fee = np.array([rates[c] for c in cat]) + rng.normal(0, 0.5, n)
    noise = rng.normal(0, 1, n)
    pdf = pd.DataFrame({"cat": cat, "fee": fee, "noise": noise})
    pdf.loc[::7, "fee"] = np.nan                  # pairwise deletion
    df = spark.createDataFrame(pdf)
    out = {(r["cat_col"], r["num_col"]): r for r in
           group_dependence_screen(df, ["cat"], ["fee", "noise"]).collect()}

    def eta2_ref(x, g):
        keep = ~np.isnan(x)
        x, g = x[keep], g[keep]
        ssw = sum(((x[g == v] - x[g == v].mean()) ** 2).sum()
                  for v in set(g))
        sst = ((x - x.mean()) ** 2).sum()
        return 1.0 - ssw / sst

    r = out[("cat", "fee")]
    assert r["flagged"] and r["n"] == int((~pdf.fee.isna()).sum())
    assert r["n_groups"] == 3
    assert abs(r["eta2"] - eta2_ref(pdf.fee.to_numpy(), cat)) < 1e-9
    rn = out[("cat", "noise")]
    assert not rn["flagged"] and rn["eta2"] < 0.1
    assert abs(rn["eta2"] - eta2_ref(noise, cat)) < 1e-9

    import pytest as _pt
    with _pt.raises(ValueError, match="at least one"):
        group_dependence_screen(df, [], ["fee"])
    with _pt.raises(ValueError, match="both categorical and numeric"):
        group_dependence_screen(df, ["fee"], ["fee"])
    # max_groups guard (r11 ADVICE): a high-cardinality categorical is
    # refused BY NAME before any grouped relation is built; a compliant
    # one under the same bound still screens
    from pyspark.sql import functions as F

    wide = df.withColumn("hi_card", F.concat(F.lit("v"),
                                             F.monotonically_increasing_id()))
    with _pt.raises(ValueError, match="hi_card"):
        group_dependence_screen(wide, ["cat", "hi_card"], ["fee"],
                                max_groups=20)
    ok = group_dependence_screen(df, ["cat"], ["fee"], max_groups=20)
    assert ok.filter("flagged").count() == 1


def test_group_dependence_eta2_oracle(spark, duck, sf_dir):
    """Value-level eta² parity vs DuckDB on the real lineitem_m seat
    inputs (r12 verdict item 1: the driver seat now emits only exact
    values, so the float-valued eta² parity lives HERE, where both
    engines share a box — tolerance-based, not hashed)."""
    import os
    import sys

    # this checkout's registry, not whichever one is first on sys.path
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import __spark_entry__ as entry

    from dataops_testgen_spark.anomalies.dependence import (
        group_dependence_screen)

    sp = entry._lineitem_m(spark, sf_dir)
    got = {r["num_col"]: r for r in group_dependence_screen(
        sp, ["l_returnflag"], entry._DEPENDENCE_NUMS).collect()}

    for num in entry._DEPENDENCE_NUMS:
        e, n, g_ct, flagged = duck.execute(f"""
            WITH base AS ({entry._LINEITEM_M_SQL}),
            grp AS (
              SELECT COUNT({num}) AS n, AVG({num}::DOUBLE) AS m,
                     VAR_POP({num}::DOUBLE) AS vp
              FROM base WHERE l_returnflag IS NOT NULL
              GROUP BY l_returnflag)
            SELECT SUM(n * (m - mm) * (m - mm))
                     / NULLIF(SUM(n * (m - mm) * (m - mm))
                              + SUM(vp * n), 0),
                   tn, g_ct,
                   COALESCE(SUM(n * (m - mm) * (m - mm))
                     / NULLIF(SUM(n * (m - mm) * (m - mm))
                              + SUM(vp * n), 0) >= 0.95
                     AND tn >= 500 AND g_ct >= 2, FALSE)
            FROM (SELECT n::DOUBLE AS n, m, vp,
                         SUM(n) OVER () AS tn,
                         COUNT(CASE WHEN n > 0 THEN 1 END) OVER () AS g_ct,
                         SUM(m * n::DOUBLE) OVER ()
                           / NULLIF(SUM(n::DOUBLE) OVER (), 0) AS mm
                  FROM grp)
            GROUP BY tn, g_ct""").fetchone()
        r = got[num]
        assert r["n"] == n and r["n_groups"] == g_ct
        assert r["flagged"] == flagged, num
        assert abs(r["eta2"] - e) < 1e-7, (num, r["eta2"], e)
        if num == "l_fee":                        # seeded rate table
            assert r["eta2"] > 0.999
        else:                                     # genuine measures: tiny,
            assert r["eta2"] < 0.01               # far below the 0.95 flag


def test_dependence_anomalies_cascade(spark):
    """dependence_anomalies qualifies categoricals by the contingency
    rule and numerics by correlation eligibility + non-constant, anchors
    the anomaly on the numeric column, and scores eta² x 0.33."""
    import numpy as np
    import pandas as pd

    from dataops_testgen_spark.anomalies.dependence import (
        dependence_anomalies)

    rng = np.random.default_rng(31)
    n = 700
    cat = rng.choice(["x", "y"], n)
    fee = np.where(cat == "x", 5.0, 80.0) + rng.normal(0, 0.1, n)
    df = spark.createDataFrame(pd.DataFrame({
        "code": cat, "fee": fee, "konst": np.full(n, 3.0),
        "wide_cat": rng.integers(0, 1000, n).astype(str)}))
    prof = spark.createDataFrame(
        [("t", "code", "A", "Code", 2),
         ("t", "fee", "N", "Measurement", 650),
         ("t", "konst", "N", "Constant", 1),          # constant: excluded
         ("t", "wide_cat", "A", "Category", 1000)],   # >20 groups: excluded
        "table_name string, column_name string, general_type string,"
        " functional_data_type string, distinct_value_ct long")
    rows = dependence_anomalies({"t": df}, prof).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["table_name"], r["column_name"]) == ("t", "fee")
    assert r["anomaly_type"] == "Dependent_Column"
    assert r["data_object"] == "Dependence"
    assert "code" in r["detail"]
    assert abs(r["dq_prevalence"] - 0.33) < 1e-3    # eta2 ~ 1
    # no qualifying categorical -> None
    assert dependence_anomalies(
        {"t": df}, prof.filter("column_name <> 'code'")) is None


def test_dependence_cli_and_drilldown(spark, tmp_path, capsys):
    import numpy as np
    import pandas as pd

    from dataops_testgen_spark.__main__ import main
    from dataops_testgen_spark.execution.drilldown import source_data_lookup

    rng = np.random.default_rng(37)
    n = 600
    cat = rng.choice(["a", "b"], n)
    fee = np.where(cat == "a", 10.0, 90.0) + rng.normal(0, 0.2, n)
    fee[11] += 40.0                                  # one override row
    pdf = pd.DataFrame({"cat": cat, "fee": fee,
                        "noise": rng.normal(0, 1, n)})
    p = str(tmp_path / "dep")
    spark.createDataFrame(pdf).write.parquet(p)
    assert main(["table-dependence", "--data", p, "--cat-columns", "cat",
                 "--num-columns", "fee,noise"]) == 1
    out = capsys.readouterr().out
    assert "cat fee" in out and "flagged pairs: 1" in out
    assert main(["table-dependence", "--data", p, "--cat-columns", "cat",
                 "--num-columns", "noise"]) == 0
    capsys.readouterr()
    assert main(["table-dependence", "--data", p, "--cat-columns", "fee",
                 "--num-columns", "fee"]) == 2
    res = source_data_lookup(spark.createDataFrame(pdf),
                             "Dependent_Column", "fee",
                             {"cat_col": "cat"}, limit=5)
    top = res.df.collect()[0]
    assert abs(top["fee"] - fee[11]) < 1e-9
    assert abs(top["residual"]) > 30


def test_correlation_cli_and_drilldown(spark, tmp_path, capsys):
    from dataops_testgen_spark.__main__ import main
    from dataops_testgen_spark.execution.drilldown import source_data_lookup

    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(3)
    n = 600
    base = rng.normal(50, 9, n)
    gross = base * 1.04
    gross[17] += 50.0                                # one manual override
    pdf = pd.DataFrame({"price": base, "gross": gross,
                        "noise": rng.normal(0, 1, n)})
    p = str(tmp_path / "t")
    spark.createDataFrame(pdf).write.parquet(p)
    # gate trips on the derived pair -> exit 1; restricted to the
    # independent pair -> exit 0; single column -> clean exit 2
    assert main(["table-correlation", "--data", p]) == 1
    out = capsys.readouterr().out
    assert "price gross" in out and "flagged pairs: 1" in out
    assert main(["table-correlation", "--data", p,
                 "--columns", "price,noise"]) == 0
    capsys.readouterr()
    assert main(["table-correlation", "--data", p,
                 "--columns", "price"]) == 2
    # drill-down: the override row is the top residual
    res = source_data_lookup(spark.createDataFrame(pdf),
                             "Correlated_Columns", "gross",
                             {"col_a": "price"}, limit=5)
    top = res.df.collect()[0]
    assert abs(top["gross"] - gross[17]) < 1e-9
    assert abs(top["residual"]) > 10


def test_dependent_drilldown_residual_gaps(spark):
    """The drilldown_dependent_lineitem seat orders on the RAW
    |residual| (a float both engines compute independently); that is
    hash-safe only while distinct residual clusters are separated by
    far more than the aggregation fold noise (~1e-10). Pin the data
    property the seat's docstring relies on: minimum gap between
    distinct |residual| values > 1e-6, and the 500-cutoff falls inside
    a cluster whose rows are identical in the output projection."""
    import numpy as np

    import __spark_entry__ as entry_mod

    pdf = (entry_mod._lineitem_m(spark, "/root/testdata/sf0.001")
           .select("l_returnflag", "l_fee").toPandas())
    resid = pdf.groupby("l_returnflag")["l_fee"].transform(
        lambda s: s - s.mean()).abs().to_numpy()
    vals = np.sort(np.unique(np.round(resid, 12)))
    gaps = np.diff(vals)
    # measured ~3.7e-5 at sf0.001 / ~7.9e-5 at sf0.01 — pin an order of
    # magnitude of slack, still ~10^5 x the ~1e-10 fold noise
    assert gaps.size and gaps.min() > 1e-5, gaps.min()
    # cutoff cluster: the 500th row by |resid| desc must share its exact
    # residual with AT LEAST one other row (>= 2 — a singleton cluster at
    # the boundary would let the engines keep different multisets), so
    # the limit keeps the same multiset on both engines
    order = np.sort(resid)[::-1]
    assert order.size > 500
    assert (resid == order[499]).sum() >= 2


def test_eligibility_row_mirrors_column(spark):
    """r14: screen_anomalies collects the profile metadata ONCE and applies
    the correlation/dependence eligibility driver-side. Pin that the python
    predicates match the Column filters on a matrix covering every branch:
    general_type, NULL/prefix/case fdt variants, distinct_value_ct edges."""
    from pyspark.sql import functions as F

    from dataops_testgen_spark.anomalies.correlation import (
        correlation_eligible, correlation_eligible_row)
    from dataops_testgen_spark.anomalies.dependence import (
        DEPENDENCE_MAX_GROUPS)

    fdts = [None, "ID", "ID-Unique", "Id-Secondary", "id code",
            "Period Month", "PERIOD YR", "periodic", "Sequence", "Category",
            "Code", "Measurement", "Measurement Pct", "Attribute",
            "category"]
    rows = []
    i = 0
    for g in ["N", "A", "D", None]:
        for fdt in fdts:
            for dvc in [None, 1, 2, 20, 21]:
                rows.append((f"t{i % 3}", f"c{i}", g, fdt, dvc))
                i += 1
    df = spark.createDataFrame(
        rows, "table_name string, column_name string, general_type string, "
              "functional_data_type string, distinct_value_ct long")
    collected = df.collect()

    spark_elig = {(r["table_name"], r["column_name"])
                  for r in df.filter(correlation_eligible()).collect()}
    py_elig = {(r["table_name"], r["column_name"])
               for r in collected if correlation_eligible_row(r)}
    assert spark_elig == py_elig

    spark_cat = {(r["table_name"], r["column_name"]) for r in df.filter(
        F.col("functional_data_type").isin("Code", "Category")
        & F.col("distinct_value_ct").between(2, DEPENDENCE_MAX_GROUPS)
    ).collect()}
    py_cat = {(r["table_name"], r["column_name"]) for r in collected
              if r["functional_data_type"] in ("Code", "Category")
              and r["distinct_value_ct"] is not None
              and 2 <= r["distinct_value_ct"] <= DEPENDENCE_MAX_GROUPS}
    assert spark_cat == py_cat

    spark_num = {(r["table_name"], r["column_name"]) for r in df.filter(
        correlation_eligible() & (F.col("distinct_value_ct") > 1)).collect()}
    py_num = {(r["table_name"], r["column_name"]) for r in collected
              if correlation_eligible_row(r)
              and r["distinct_value_ct"] is not None
              and r["distinct_value_ct"] > 1}
    assert spark_num == py_num


def test_constant_column_corr_eta2_null_at_any_partitioning(spark):
    """r14 latent-bug regression guard: stddev_samp/var_pop of an EXACTLY
    constant column return ~1e-16 partition-merge noise at some layouts
    (1000x7.0: 2.8e-16 at repartition(5), 0.0 at repartition(6) —
    reproduced at local[6]/local[7] via arrow slicing too), and
    corr / eta² then become noise/noise — an arbitrary value that depends
    on the partitioning. The exact min<max guards must yield the
    undefined-NULL (and flagged=False) at EVERY layout."""
    import numpy as np
    import pandas as pd

    from dataops_testgen_spark.anomalies.correlation import (
        correlation_screen)
    from dataops_testgen_spark.anomalies.dependence import (
        group_dependence_screen)

    rng = np.random.default_rng(23)
    n = 1000
    pdf = pd.DataFrame({
        "amount": rng.normal(100, 20, n),
        "constant": np.full(n, 7.0),
        "cat": ["A", "B", "C", "D", "E"] * (n // 5),
    })
    base = spark.createDataFrame(pdf)
    for k in (2, 5, 6, 7, 9):
        df = base.repartition(k)
        out = {(r["col_a"], r["col_b"]): r
               for r in correlation_screen(
                   df.select("amount", "constant"), min_n=500).collect()}
        row = out[("amount", "constant")]
        assert row["corr"] is None and not row["flagged"], (k, row)
        dep = {r["num_col"]: r for r in group_dependence_screen(
            df, ["cat"], ["amount", "constant"]).collect()}
        assert dep["constant"]["eta2"] is None, (k, dep["constant"])
        assert not dep["constant"]["flagged"], (k, dep["constant"])
