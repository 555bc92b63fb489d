"""Golden-value tests for the column profiler on a crafted fixture
(FIXTURES.md Family B style — each column pins specific metrics)."""

import datetime

import pytest
from pyspark.sql import types as T

from dataops_testgen_spark.profiling.profiler import profile_table

RUN_DATE = "2026-01-01"


@pytest.fixture(scope="module")
def fixture_df(spark):
    schema = T.StructType([
        T.StructField("id_pk", T.LongType()),
        T.StructField("txt", T.StringType()),
        T.StructField("num", T.DoubleType()),
        T.StructField("dt", T.DateType()),
        T.StructField("flag", T.BooleanType()),
    ])
    d = datetime.date
    rows = [
        (1, "Alpha", 1.5, d(2025, 12, 30), True),
        (2, "BRAVO", 2.5, d(2025, 6, 1), False),
        (3, "charlie", 0.0, d(2000, 1, 1), True),
        (4, " lead", 10.0, d(2026, 5, 1), None),
        (5, '"quoted"', -3.25, d(1900, 1, 1), True),
        (6, "", None, None, False),
        (7, None, 4.0, d(2025, 12, 15), True),
        (8, "N/A", 4.0, d(2025, 12, 15), True),
        (9, "123", 4.0, d(2048, 1, 1), False),
        (10, "0", 0.0, d(2025, 1, 2), True),
    ]
    return spark.createDataFrame(rows, schema)


@pytest.fixture(scope="module")
def profile(fixture_df):
    p = profile_table(fixture_df, "fix", run_date=RUN_DATE)
    return {r["column_name"]: r.asDict() for r in p.collect()}


def test_shared_counts(profile):
    assert profile["id_pk"]["record_ct"] == 10
    assert profile["id_pk"]["value_ct"] == 10
    assert profile["id_pk"]["distinct_value_ct"] == 10
    assert profile["txt"]["value_ct"] == 9
    assert profile["txt"]["null_value_ct"] == 1
    assert profile["num"]["null_value_ct"] == 1


def test_alpha_metrics(profile):
    t = profile["txt"]
    assert t["zero_length_ct"] == 1
    assert t["lead_space_ct"] == 1
    assert t["quoted_value_ct"] == 1
    assert t["filled_value_ct"] == 2          # "N/A" + "0" (run-of-zeros)
    assert t["zero_value_ct"] == 1            # "0"
    assert t["includes_digit_ct"] == 2        # "123", "0"
    assert t["upper_case_ct"] == 2            # BRAVO, N/A
    assert t["lower_case_ct"] == 3            # charlie, " lead", '"quoted"'
    assert t["non_alpha_ct"] == 3             # "", "123", "0"
    assert t["mixed_case_ct"] == 9 - 2 - 3 - 3  # Alpha
    assert t["numeric_ct"] == 2
    assert t["min_length"] == 0
    assert t["max_length"] == 8


def test_numeric_metrics(profile):
    n = profile["num"]
    assert n["min_value"] == -3.25
    assert n["max_value"] == 10.0
    assert n["min_value_over_0"] == 1.5
    assert n["zero_value_ct"] == 2
    assert abs(n["avg_value"] - (1.5 + 2.5 + 0 + 10 - 3.25 + 4 + 4 + 4 + 0) / 9) < 1e-9
    assert n["percentile_50"] == 2.5
    # fractional_sum = .5 + .5 + .25
    assert abs(n["fractional_sum"] - 1.25) < 1e-9


def test_date_metrics(profile):
    dt = profile["dt"]
    assert dt["future_date_ct"] == 2          # 2026-05-01, 2048-01-01
    assert dt["distant_future_date_ct"] == 1  # 2048
    assert dt["before_20yr_date_ct"] == 2     # 2000, 1900
    assert dt["before_100yr_date_ct"] == 1    # 1900
    assert dt["within_1mo_date_ct"] == 3      # 2025-12-30 + 2025-12-15 ×2 rows
    assert dt["date_days_present"] == 8
    assert dt["min_date"] == datetime.datetime(1900, 1, 1)
    assert dt["max_date"] == datetime.datetime(2048, 1, 1)


def test_boolean_metrics(profile):
    assert profile["flag"]["boolean_true_ct"] == 6


def test_secondary(profile):
    t = profile["txt"]
    assert t["distinct_pattern_ct"] == 9
    assert t["top_patterns"] is not None
    assert t["top_freq_values"] is not None
    assert t["distinct_value_hash"] is not None


def test_std_pattern_email(spark):
    df = spark.createDataFrame(
        [(f"user{i}@example.com",) for i in range(19)] + [("not-an-email",)],
        "email: string",
    )
    p = profile_table(df, "emails", run_date=RUN_DATE)
    row = p.collect()[0]
    assert row["std_pattern_match"] == "EMAIL"


def test_sampling_scales_counts(spark):
    df = spark.range(0, 200_000).withColumnRenamed("id", "v")
    p = profile_table(df, "big", run_date=RUN_DATE, sample=True, secondary=False,
                      exact_percentiles=False)
    row = p.collect()[0]
    assert row["sample_ratio"] < 1.0
    # scaled value_ct should be within 2% of the true count
    assert abs(row["value_ct"] - 200_000) / 200_000 < 0.02
    assert row["record_ct"] == 200_000


def test_hash_sampling_deterministic_and_scaled(spark):
    """sample_key_col switches the profiler to the salted md5-hash Bernoulli
    draw: the same rows on every run (unlike df.sample's RNG stream), so
    scaled estimates are exactly reproducible — and re-derivable in SQL,
    which is what makes the sampled-profile driver query oracle-checkable."""
    from dataops_testgen_spark.pipeline.sampling import hash_sample

    df = spark.range(0, 10_000).withColumnRenamed("id", "v")
    kw = dict(sample=True, sample_key_col="v", sample_fraction=0.25,
              sample_salt="s1", secondary=False, exact_percentiles=False,
              run_date=RUN_DATE)
    a = profile_table(df, "t", **kw).collect()[0]
    b = profile_table(df, "t", **kw).collect()[0]
    assert a["value_ct"] == b["value_ct"]          # bit-identical reruns
    assert a["min_value"] == b["min_value"]
    assert a["sample_ratio"] == 0.25
    assert a["record_ct"] == 10_000
    # the scaled estimate is exactly 4x the deterministic sample count
    n_sample = hash_sample(df, id_col="v", fraction=0.25, salt="s1").count()
    assert a["value_ct"] == int(round(n_sample / 0.25))
    # a different salt draws an independent sample
    c = profile_table(df, "t", sample=True, sample_key_col="v",
                      sample_fraction=0.25, sample_salt="s2",
                      secondary=False, exact_percentiles=False,
                      run_date=RUN_DATE).collect()[0]
    assert c["value_ct"] != a["value_ct"] or c["min_value"] != a["min_value"]


def test_hash_sampling_gate_without_explicit_fraction(spark):
    """Without an explicit sample_fraction the reference's row-count gate
    applies: below SAMPLE_MIN_COUNT the deterministic mode must NOT sample."""
    df = spark.range(0, 1_000).withColumnRenamed("id", "v")
    p = profile_table(df, "t", run_date=RUN_DATE, sample=True,
                      sample_key_col="v", secondary=False,
                      exact_percentiles=False).collect()[0]
    assert p["sample_ratio"] == 1.0
    assert p["value_ct"] == 1_000


def test_std_pattern_survives_sampling(spark):
    """std_pattern_match is a same-sample ratio: scaling value_ct up before
    classification deflated it by the sample fraction (ADVICE r1)."""
    df = spark.createDataFrame(
        [(f"user{i}@example.com",) for i in range(150_000)],
        "email: string",
    )
    p = profile_table(df, "emails", run_date=RUN_DATE, sample=True,
                      secondary=False, exact_percentiles=False)
    row = p.collect()[0]
    assert row["sample_ratio"] < 1.0
    assert row["std_pattern_match"] == "EMAIL"


def test_merge_profiles_equals_full_profile(spark, sf_dir):
    """Partition-incremental profiling: profile three disjoint slices of
    lineitem, merge, and compare with the whole-table profile — every
    mergeable metric must agree (floats to 1e-9 relative), non-mergeable
    ones must come back NULL."""
    import datetime

    import pytest as _pytest
    from pyspark.sql import functions as F

    from dataops_testgen_spark.profiling.merge import (
        NON_MERGEABLE_FIELDS, merge_profiles)
    from dataops_testgen_spark.profiling.profiler import (
        PROFILE_SCHEMA, profile_table)

    df = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    rd = datetime.date(2026, 1, 1)
    slices = [df.filter(F.col("l_orderkey") % 3 == i) for i in range(3)]
    parts = None
    for s in slices:
        p = profile_table(s, "lineitem", run_date=rd)
        parts = p if parts is None else parts.unionByName(p)
    merged = {r["column_name"]: r for r in merge_profiles(parts).collect()}
    full = {r["column_name"]: r
            for r in profile_table(df, "lineitem", run_date=rd).collect()}
    assert set(merged) == set(full)

    mergeable = [f.name for f in PROFILE_SCHEMA.fields
                 if f.name not in NON_MERGEABLE_FIELDS
                 and f.name not in ("sample_ratio",)]
    for col, m in merged.items():
        f = full[col]
        for name in mergeable:
            a, b = m[name], f[name]
            if isinstance(a, float) and a is not None and b is not None:
                assert a == _pytest.approx(b, rel=1e-9, abs=1e-9), (col, name)
            else:
                assert a == b, (col, name, a, b)
        for name in NON_MERGEABLE_FIELDS:
            assert m[name] is None, (col, name)

    # sampled slices must be refused
    sampled = parts.withColumn("sample_ratio", F.lit(0.5))
    with _pytest.raises(ValueError):
        merge_profiles(sampled).collect()


def test_merge_profiles_metric_complete(spark, sf_dir):
    """With keep_sketches=True and capacities above the fixture's
    cardinalities, the merged profile must equal the full-table profile on
    EVERY metric field — including the formerly non-mergeable ones: exact
    distinct_value_ct (freq counter for strings, lossless quantile sketch
    for numerics, day-granular day set for dates), distinct_std_value_ct,
    std_pattern_match, the date bucket counts, percentiles, and the
    secondary top-k strings."""
    import datetime

    import pytest as _pytest
    from pyspark.sql import functions as F

    from dataops_testgen_spark.profiling.merge import merge_profiles
    from dataops_testgen_spark.profiling.profiler import profile_table

    df = spark.read.parquet(f"{sf_dir}/orders.parquet")
    rd = datetime.date(2026, 1, 1)
    parts = None
    for i in range(3):
        p = profile_table(df.filter(F.col("o_orderkey") % 3 == i), "orders",
                          run_date=rd, keep_sketches=True, secondary=False,
                          sketch_capacity=100_000)
        parts = p if parts is None else parts.unionByName(p)
    merged = {r["column_name"]: r for r in merge_profiles(parts).collect()}
    full = {r["column_name"]: r for r in
            profile_table(df, "orders", run_date=rd,
                          secondary=True).collect()}
    assert set(merged) == set(full)
    skip = {"distinct_hll", "quantile_sketch", "freq_sketch",
            "pattern_sketch", "std_value_sketch", "day_set_json",
            "stdpat_json", "run_date"}
    for col, m in merged.items():
        f = full[col]
        for name in f.asDict():
            if name in skip:
                continue
            a, b = m[name], f[name]
            if isinstance(a, float) and a is not None and b is not None:
                assert a == _pytest.approx(b, rel=1e-9, abs=1e-9), (col, name)
            else:
                assert a == b, (col, name, a, b)


def test_quantile_sketch_lossless_flag():
    """distinct_ct is exact while lossless and None once compression has
    occurred anywhere in the merge lineage (including through bytes)."""
    import numpy as np

    from dataops_testgen_spark.profiling.sketches import QuantileSketch

    s = QuantileSketch.from_values(np.arange(100.0), capacity=256)
    assert s.lossless and s.distinct_ct == 100
    rt = QuantileSketch.from_bytes(s.to_bytes())
    assert rt.lossless and rt.distinct_ct == 100
    big = QuantileSketch.from_values(np.arange(1000.0), capacity=256)
    assert not big.lossless and big.distinct_ct is None
    m = s.merge(big)
    assert not m.lossless and m.distinct_ct is None
    assert not QuantileSketch.from_bytes(m.to_bytes()).lossless


def test_merge_profiles_hll_sketches(spark, sf_dir):
    """With keep_sketches=True the slice profiles carry mergeable HLL
    sketches, and merged distinct_value_ct lands within HLL error of the
    exact full-table distinct count."""
    import datetime

    from pyspark.sql import functions as F

    from dataops_testgen_spark.profiling.merge import merge_profiles
    from dataops_testgen_spark.profiling.profiler import profile_table

    df = spark.read.parquet(f"{sf_dir}/orders.parquet") \
        .select("o_orderkey", "o_custkey", "o_orderstatus")
    rd = datetime.date(2026, 1, 1)
    parts = None
    for i in range(2):
        p = profile_table(df.filter(F.col("o_orderkey") % 2 == i),
                          "orders", run_date=rd, keep_sketches=True)
        parts = p if parts is None else parts.unionByName(p)
    merged = {r["column_name"]: r for r in merge_profiles(parts).collect()}
    exact = {c: df.select(c).distinct().count() for c in df.columns}
    for c, want in exact.items():
        got = merged[c]["distinct_value_ct"]
        assert got is not None
        assert abs(got - want) <= max(2, 0.03 * want), (c, got, want)
        assert merged[c]["distinct_hll"] is not None
    # without sketches the distinct count stays NULL
    p0 = profile_table(df, "orders", run_date=rd)
    plain = merge_profiles(p0).collect()[0]
    assert plain["distinct_value_ct"] is None


def test_merge_profiles_refold(spark, sf_dir):
    """The production incremental pattern is merge(running, new_partition),
    i.e. a merge of an already-merged profile — every sketch carrier
    (quantile blob + lossless flag, freq/std counters, day-set JSON,
    stdpat JSON) must round-trip so refolding equals the flat 3-way
    merge on every metric field."""
    import datetime

    from pyspark.sql import functions as F

    from dataops_testgen_spark.profiling.merge import merge_profiles
    from dataops_testgen_spark.profiling.profiler import profile_table

    df = spark.read.parquet(f"{sf_dir}/orders.parquet")
    rd = datetime.date(2026, 1, 1)
    slices = [profile_table(df.filter(F.col("o_orderkey") % 3 == i),
                            "orders", run_date=rd, keep_sketches=True,
                            secondary=False, sketch_capacity=100_000)
              for i in range(3)]
    flat = {r["column_name"]: r for r in merge_profiles(
        slices[0].unionByName(slices[1]).unionByName(slices[2])).collect()}
    running = merge_profiles(slices[0].unionByName(slices[1]))
    refolded = {r["column_name"]: r for r in merge_profiles(
        running.unionByName(slices[2])).collect()}
    skip = {"distinct_hll", "quantile_sketch", "freq_sketch",
            "pattern_sketch", "std_value_sketch", "day_set_json",
            "stdpat_json"}
    for c, fl in flat.items():
        for name, b in fl.asDict().items():
            if name in skip:
                continue
            a = refolded[c][name]
            if isinstance(a, float) and a is not None and b is not None:
                assert abs(a - b) < 1e-9 + 1e-9 * abs(b), (c, name, a, b)
            else:
                assert a == b, (c, name, a, b)


def test_merge_profiles_with_empty_slice(spark, sf_dir):
    """A slice with zero rows (e.g. an empty new partition) contributes
    nothing and must not poison means/stddev or min/max."""
    import datetime

    from pyspark.sql import functions as F

    from dataops_testgen_spark.profiling.merge import merge_profiles
    from dataops_testgen_spark.profiling.profiler import profile_table

    df = spark.read.parquet(f"{sf_dir}/orders.parquet") \
        .select("o_orderkey", "o_totalprice")
    rd = datetime.date(2026, 1, 1)
    full = profile_table(df, "orders", run_date=rd)
    empty = profile_table(df.filter(F.lit(False)), "orders", run_date=rd)
    merged = {r["column_name"]: r for r in
              merge_profiles(full.unionByName(empty)).collect()}
    want = {r["column_name"]: r for r in full.collect()}
    for c in want:
        for m in ("record_ct", "value_ct", "min_value", "max_value",
                  "avg_value", "stdev_value"):
            a, b = merged[c][m], want[c][m]
            if isinstance(a, float) and b is not None:
                assert abs(a - b) < 1e-9 + 1e-9 * abs(b), (c, m, a, b)
            else:
                assert a == b, (c, m, a, b)


def test_expr_cache_reuse_same_shape(spark, sf_dir):
    """Profiling the same shape twice reuses the assembled expression lists
    from the session memo and produces identical results — the warm-path
    compile-tax cut for incremental/monitor profiling (VERDICT r4 stretch
    #9)."""
    import datetime

    from pyspark.sql import functions as F

    from dataops_testgen_spark.profiling import profiler as P
    from dataops_testgen_spark.session import memo_stats

    def stats():
        return memo_stats(spark).get(
            "profile_exprs", {"hits": 0, "misses": 0, "entries": 0})

    df = spark.read.parquet(f"{sf_dir}/orders.parquet") \
        .select("o_orderkey", "o_totalprice", "o_orderstatus")
    # run dates no other test profiles with, so the first profile misses
    rd = datetime.date(2031, 7, 7)
    s0 = stats()
    a = {r["column_name"]: r for r in
         P.profile_table(df, "orders", run_date=rd).collect()}
    s1 = stats()
    assert s1["misses"] - s0["misses"] == 3  # one per column
    assert s1["entries"] - s0["entries"] == 3
    # same shape, different slice -> memo hits, no new misses or entries
    b = {r["column_name"]: r for r in
         P.profile_table(df.filter(F.col("o_orderkey") % 2 == 0), "orders",
                         run_date=rd).collect()}
    s2 = stats()
    assert s2["misses"] == s1["misses"]
    assert s2["hits"] - s1["hits"] == 3
    assert s2["entries"] == s1["entries"]
    # results still correct: slice metrics differ but schema agrees
    assert set(a) == set(b)
    assert a["o_orderkey"]["record_ct"] > b["o_orderkey"]["record_ct"]
    # a different run_date must NOT hit the same entries (date literals)
    P.profile_table(df, "orders", run_date=datetime.date(2031, 8, 8)) \
        .collect()
    s3 = stats()
    assert s3["misses"] - s2["misses"] == 3
    # the entries are held under this session's application
    assert s3["entries"] - s2["entries"] == 3


def test_slice_col_single_pass_matches_filtered_slices(spark, sf_dir):
    """slice_col grouping mode: ONE scan per aggregate job produces the
    same per-slice profiles as N filter-rescans — the merged profile (the
    never-rescan consumer) agrees field by field, including record_ct,
    sketch-backed percentiles/top-k and the day sets."""
    import datetime

    from pyspark.sql import functions as F

    from dataops_testgen_spark.profiling.merge import merge_profiles
    from dataops_testgen_spark.profiling.profiler import profile_table

    df = spark.read.parquet(f"{sf_dir}/orders.parquet")
    rd = datetime.date(2026, 1, 1)
    kw = dict(run_date=rd, keep_sketches=True, approx=True,
              secondary=False, sketch_capacity=100_000)
    sliced = profile_table(df.withColumn("sl", F.col("o_orderkey") % 3),
                           "orders", slice_col="sl", **kw)
    assert "sl" not in {r["column_name"] for r in sliced.collect()}
    parts = None
    for i in range(3):
        p = profile_table(df.filter(F.col("o_orderkey") % 3 == i),
                          "orders", **kw)
        parts = p if parts is None else parts.unionByName(p)
    a = {r["column_name"]: r.asDict()
         for r in merge_profiles(sliced).collect()}
    b = {r["column_name"]: r.asDict()
         for r in merge_profiles(parts).collect()}
    assert set(a) == set(b)
    skip = {"quantile_sketch", "freq_sketch", "pattern_sketch",
            "std_value_sketch", "distinct_hll", "day_set_json",
            "stdpat_json"}
    for c in a:
        for k, av in a[c].items():
            if k in skip:       # blob bytes may differ in layout,
                continue        # their DERIVED metrics must not
            bv = b[c][k]
            if isinstance(av, float) and av is not None and bv is not None:
                assert abs(av - bv) < 1e-9, (c, k, av, bv)
            else:
                assert av == bv, (c, k, av, bv)


def test_slice_col_validation(spark, sf_dir):
    from pyspark.sql import functions as F

    from dataops_testgen_spark.profiling.profiler import profile_table

    df = spark.read.parquet(f"{sf_dir}/orders.parquet") \
        .withColumn("sl", F.col("o_orderkey") % 2)
    with pytest.raises(ValueError, match="sample"):
        profile_table(df, "orders", slice_col="sl", sample=True,
                      secondary=False)
    with pytest.raises(ValueError, match="secondary"):
        profile_table(df, "orders", slice_col="sl")
    with pytest.raises(ValueError, match="not in DataFrame"):
        profile_table(df, "orders", slice_col="ghost", secondary=False)


def test_pool_jobs_inherit_job_group(spark, sf_dir):
    """profile_tables submits its jobs from a thread pool; each one carries
    the caller's job group, so per-group attribution sees every job the
    call made and none of them runs ungrouped."""
    import datetime

    from dataops_testgen_spark.profiling.profiler import profile_tables

    sc = spark.sparkContext
    st = sc.statusTracker()
    tables = {t: spark.read.parquet(f"{sf_dir}/{t}.parquet")
              for t in ("customer", "nation")}
    group = "test_pool_jobs_inherit_job_group"
    ungrouped = set(st.getJobIdsForGroup(None))
    sc.setJobGroup(group, group)
    try:
        profile_tables(tables, run_date=datetime.date(2031, 9, 9))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert set(st.getJobIdsForGroup(None)) - ungrouped == set()
    # two tables' aggregate and top-k jobs, all in the group
    assert len(st.getJobIdsForGroup(group)) >= 4
