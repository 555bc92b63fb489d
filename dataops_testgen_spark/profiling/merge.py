"""Mergeable profile statistics — partition-incremental profiling at scale.

At 100 TB a daily pipeline should profile only NEW partitions and fold the
result into the running table profile, not rescan history. Most of the
reference's ~60 metrics are algebraically mergeable from per-slice profile
rows (the same idea as Spark's own partial aggregates, one level up):

- count-like metrics add; min/max combine by min/max
- means combine weighted by ``value_ct``
- sample stddev combines through the sum-of-squares identity
  ``SS_total = Σ((n_i−1)·sd_i² + n_i·mean_i²) − n·mean²`` (the grouped form
  of Chan et al.'s pairwise update), then ``sd = sqrt(SS/(n−1))``

Metrics that are NOT mergeable from scalars come back NULL — unless the
slices were profiled with ``keep_sketches=True``, which carries mergeable
sketches per column: DataSketches HLL for ``distinct_value_ct``, a
quantile sketch (profiling/sketches.py — exact below capacity, bounded
rank error above) for ``percentile_25/50/75``, and bounded exact
value/pattern counters for ``top_freq_values`` / ``distinct_value_hash``
/ ``top_patterns`` / ``distinct_pattern_ct`` (exact-or-NULL by the
reference's own 70-distinct qualification), plus the carriers that make
the remaining metrics mergeable: an exact distinct-day set
(``day_set_json`` — intrinsically bounded at ~36.5k days/century, so the
union is metadata-plane at any row count) for
``date_days/weeks/months_present``, a bounded exact standardized-value
counter for ``distinct_std_value_ct`` (exact-or-NULL at 4096), and the
raw std-pattern match counts (``stdpat_json``) summed and re-classified
for ``std_pattern_match`` — making the merged profile METRIC-COMPLETE
for unsampled slices profiled with sketches. Merging SAMPLED profiles is
refused: scaled estimates of disjoint slices do not add.

No reference-file counterpart: the reference re-profiles whole tables per
run (`run_profiling.py`); this operator exists for the Spark target's
partitioned-lake reality.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dataops_testgen_spark.profiling.profiler import PROFILE_SCHEMA
from dataops_testgen_spark.session import memo

KEY_FIELDS = ["table_name", "column_name"]
META_FIRST = ["ordinal_position", "column_type", "general_type", "is_decimal"]

SUM_FIELDS = [
    "record_ct", "value_ct", "null_value_ct", "zero_value_ct",
    "zero_length_ct", "lead_space_ct", "quoted_value_ct",
    "includes_digit_ct", "filled_value_ct", "upper_case_ct",
    "lower_case_ct", "non_alpha_ct", "mixed_case_ct", "non_printing_ct",
    "numeric_ct", "date_ct", "embedded_space_ct", "before_1yr_date_ct",
    "before_5yr_date_ct", "before_20yr_date_ct", "before_100yr_date_ct",
    "within_1yr_date_ct", "within_1mo_date_ct", "future_date_ct",
    "distant_future_date_ct", "boolean_true_ct",
]
SUM_DOUBLE_FIELDS = ["fractional_sum"]
MIN_FIELDS = ["min_length", "min_value", "min_value_over_0", "min_date",
              "min_text"]
MAX_FIELDS = ["max_length", "max_value", "max_date", "max_text"]
# (metric, weight column): weighted means — every avg_* is over non-null
# values of the profiled column, so the weight is value_ct
WEIGHTED_AVG_FIELDS = [("avg_length", "value_ct"),
                       ("avg_value", "value_ct"),
                       ("avg_embedded_spaces", "value_ct")]
# distinct_value_ct IS merged (approximately) when the slices carry HLL
# sketches, percentile_25/50/75 ARE merged when they carry quantile
# sketches, and the top_freq/pattern metrics ARE merged (exact-or-NULL)
# when they carry frequency sketches — profile_table(keep_sketches=True)
# stores all three; without sketches everything here stays NULL.
NON_MERGEABLE_FIELDS = [
    "distinct_value_ct", "distinct_std_value_ct", "std_pattern_match",
    "percentile_25", "percentile_50", "percentile_75", "date_days_present",
    "date_weeks_present", "date_months_present", "top_patterns",
    "distinct_pattern_ct", "top_freq_values", "distinct_value_hash",
]
_SKETCH_PERCENTILES = {"percentile_25": "p25", "percentile_50": "p50",
                       "percentile_75": "p75"}


def _merge_freq_sketches_udf():
    """Arrow-batched merge of per-slice value/pattern frequency sketches →
    the secondary-profile metrics (top_freq_values / distinct_value_hash /
    top_patterns / distinct_pattern_ct) plus the merged sketches for
    further folding. Exact-or-NULL: a qualifying column (2–70 distinct,
    max length ≤ 70 — secondary_profiling_columns.sql) can't overflow a
    capacity-256 sketch, so survivors reproduce the full-table strings
    bit-for-bit; overflowed VALUE sketches mean > 70 distinct → NULL is
    the reference's own answer. Overflowed PATTERN sketches (> 256
    distinct patterns) also yield NULL — the one documented divergence,
    since the reference computes top_patterns for every string column."""
    from pyspark.sql.functions import pandas_udf

    from dataops_testgen_spark.profiling.secondary import (FREQ_MAX_DISTINCT,
                                                           FREQ_MAX_LENGTH,
                                                           FREQ_MIN_DISTINCT,
                                                           TOP_FREQ_K,
                                                           TOP_PATTERN_K)

    @pandas_udf("struct<top_freq_values:string, distinct_value_hash:string, "
                "top_patterns:string, distinct_pattern_ct:bigint, "
                "freq_distinct_ct:bigint, "
                "freq_sketch:binary, pattern_sketch:binary>")
    def _merge(val_lists, pat_lists):
        import pandas as pd

        from dataops_testgen_spark.profiling.sketches import merge_freq_blobs

        out = {"top_freq_values": [], "distinct_value_hash": [],
               "top_patterns": [], "distinct_pattern_ct": [],
               "freq_distinct_ct": [],
               "freq_sketch": [], "pattern_sketch": []}
        for vblobs, pblobs in zip(val_lists, pat_lists):
            if vblobs is None or not len(vblobs):
                for k in out:
                    out[k].append(None)
                continue
            vs = merge_freq_blobs(vblobs)
            ps = merge_freq_blobs(pblobs if pblobs is not None else [])
            qualifies = (not vs.overflowed
                         and FREQ_MIN_DISTINCT <= len(vs.counts)
                         <= FREQ_MAX_DISTINCT
                         and vs.max_len <= FREQ_MAX_LENGTH)
            if qualifies:
                top = vs.top_k(TOP_FREQ_K)
                out["top_freq_values"].append(
                    " | ".join(f"{v}:{c}" for v, c in top))
                out["distinct_value_hash"].append(vs.distinct_hash())
            else:
                out["top_freq_values"].append(None)
                out["distinct_value_hash"].append(None)
            if not ps.overflowed and ps.counts:
                ptop = ps.top_k(TOP_PATTERN_K)
                out["top_patterns"].append(
                    " | ".join(f"{v}:{c}" for v, c in ptop))
                out["distinct_pattern_ct"].append(len(ps.counts))
            else:
                out["top_patterns"].append(None)
                out["distinct_pattern_ct"].append(None)
            out["freq_distinct_ct"].append(vs.n_distinct)
            out["freq_sketch"].append(vs.to_bytes())
            out["pattern_sketch"].append(ps.to_bytes())
        return pd.DataFrame(out)

    return _merge


def _merge_std_sketches_udf():
    """Arrow-batched merge of per-slice standardized-value counters →
    distinct_std_value_ct (exact-or-NULL: the counter is exact until its
    capacity, default 4096 distinct standardized values, then overflows
    to NULL) plus the merged counter for further folding."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("struct<distinct_std_value_ct:bigint, "
                "std_value_sketch:binary>")
    def _merge(blob_lists):
        import pandas as pd

        from dataops_testgen_spark.profiling.sketches import merge_freq_blobs

        out = {"distinct_std_value_ct": [], "std_value_sketch": []}
        for blobs in blob_lists:
            if blobs is None or not len(blobs):
                out["distinct_std_value_ct"].append(None)
                out["std_value_sketch"].append(None)
                continue
            s = merge_freq_blobs(blobs)
            out["distinct_std_value_ct"].append(s.n_distinct)
            out["std_value_sketch"].append(s.to_bytes())
        return pd.DataFrame(out)

    return _merge


def _merge_quantile_sketches_udf():
    """Arrow-batched merge of per-slice quantile-sketch blobs → merged
    percentiles + merged sketch (metadata-plane: one input row per
    (table, column)). The multiset merge in sketches.py makes the result
    independent of slice order."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("struct<p25:double,p50:double,p75:double,"
                "distinct_ct:bigint,sketch:binary>")
    def _merge(blob_lists):
        import pandas as pd

        from dataops_testgen_spark.profiling.sketches import (
            merge_sketch_blobs)

        out = {"p25": [], "p50": [], "p75": [], "distinct_ct": [],
               "sketch": []}
        for blobs in blob_lists:
            if blobs is None or not len(blobs):
                for k in out:
                    out[k].append(None)
                continue
            s = merge_sketch_blobs(blobs)
            out["p25"].append(s.percentile(0.25))
            out["p50"].append(s.percentile(0.50))
            out["p75"].append(s.percentile(0.75))
            out["distinct_ct"].append(s.distinct_ct if s.n else None)
            out["sketch"].append(s.to_bytes() if s.n else None)
        return pd.DataFrame(out)

    return _merge


def merge_profiles(profiles: DataFrame) -> DataFrame:
    """Fold per-slice profile rows (one row per (slice, table, column),
    the output of ``profile_table`` over disjoint slices of the same
    table) into whole-table profile rows. Metadata-plane: input size is
    slices × columns. See the module docstring for merge rules; output
    keeps the ``PROFILE_SCHEMA`` column order with non-mergeable metrics
    NULL."""
    from dataops_testgen_spark.session import is_leaf_relation

    if not is_leaf_relation(profiles):
        # Materialize the slice profiles once: the sample-ratio guard just
        # below is an action and the eager fold checkpoint at the end is
        # another — a lazy input would run the WHOLE slice-profile
        # computation twice per merge (at scale, a full extra pass over
        # every newly profiled partition). The relation is slices×columns
        # rows; the guard action below materializes the checkpoint, and
        # the fold then plans over a leaf instead of the union of
        # per-slice profile agg trees.
        profiles = profiles.localCheckpoint(eager=False)
    if profiles.filter(F.coalesce(F.col("sample_ratio"), F.lit(1.0))
                       < 1.0).limit(1).count():
        raise ValueError(
            "cannot merge sampled profiles: scaled estimates of disjoint "
            "slices do not add — profile slices with sample=False")

    has_sketches = "distinct_hll" in profiles.columns
    has_qsketch = "quantile_sketch" in profiles.columns
    has_fsketch = "freq_sketch" in profiles.columns
    has_ssketch = "std_value_sketch" in profiles.columns
    has_days = "day_set_json" in profiles.columns
    has_stdpat = "stdpat_json" in profiles.columns
    _DAYSET_SCHEMA = "struct<granular:boolean, days:array<string>>"

    def _build_aggs():
      aggs = []
      for f in SUM_FIELDS:
        aggs.append(F.sum(f).cast("long").alias(f))
      for f in SUM_DOUBLE_FIELDS:
        aggs.append(F.sum(f).alias(f))
      for f in MIN_FIELDS:
        aggs.append(F.min(f).alias(f))
      for f in MAX_FIELDS:
        aggs.append(F.max(f).alias(f))
      for f, w in WEIGHTED_AVG_FIELDS:
        aggs.append(
            (F.sum(F.col(f) * F.col(w))
             / F.nullif(F.sum(F.when(F.col(f).isNotNull(), F.col(w))),
                        F.lit(0))).alias(f))
      # sample stddev via the grouped sum-of-squares identity; slices with a
      # single value carry sd NULL but still contribute their mean/count
      n_i = F.col("value_ct")
      ss_i = (F.coalesce(F.col("stdev_value"), F.lit(0.0)) ** 2) * (n_i - 1)
      aggs.append(F.sum(F.when(F.col("avg_value").isNotNull(),
                             ss_i + n_i * F.col("avg_value") ** 2))
                .alias("__ss__"))
      aggs.append(F.sum(F.when(F.col("avg_value").isNotNull(), n_i))
                .alias("__n_num__"))
      for f in META_FIRST:
        aggs.append(F.first(f, ignorenulls=True).alias(f))
      # benford digit counts are plain additive censuses: element-wise sum
      # over the slices that carry one (N columns), NULL otherwise
      aggs.append(F.count("benford_counts").alias("__bf_ct__"))
      aggs.append(F.array(
        *[F.sum(F.col("benford_counts")[i]).cast("long")
          for i in range(9)]).alias("__bf__"))
      aggs.append(F.max("run_date").alias("run_date"))
      if has_sketches:
        # mergeable distinct counts: union the slices' DataSketches HLLs
        # (guarded — an all-NULL union yields an EMPTY sketch, which would
        # turn "sketches not kept" into a false distinct count of 0)
        aggs.append(F.when(F.count("distinct_hll") > 0,
                           F.hll_union_agg("distinct_hll"))
                    .alias("distinct_hll"))
      if has_qsketch:
        # collect_list drops NULL blobs, so string/date columns (no numeric
        # sketch) arrive as empty lists and merge to NULL percentiles
        aggs.append(F.collect_list("quantile_sketch").alias("__qsk__"))
      if has_fsketch:
        aggs.append(F.collect_list("freq_sketch").alias("__fsk__"))
        aggs.append(F.collect_list("pattern_sketch").alias("__psk__"))
      if has_ssketch:
        aggs.append(F.collect_list("std_value_sketch").alias("__ssk__"))
      if has_days:
        # exact distinct-day union, all JVM-side: flatten the slices' day
        # lists; weeks/months derive from the merged day set below
        aggs.append(F.flatten(F.collect_list(
            F.from_json("day_set_json", _DAYSET_SCHEMA).days))
            .alias("__days_raw__"))
        aggs.append(F.count("day_set_json").alias("__day_slices__"))
        # day-granular in EVERY slice ⇒ merged day set is the exact
        # distinct value set (exact distinct_value_ct for date columns)
        aggs.append(F.min(
            F.from_json("day_set_json", _DAYSET_SCHEMA)
             .granular.cast("int")).alias("__day_gran__"))
      if has_stdpat:
        aggs.append(F.collect_list(
            F.from_json("stdpat_json", "map<string,bigint>"))
            .alias("__stdpats__"))
      return aggs

    # The agg expression list depends only on which sketch columns are
    # present (never on the table), so the ~120 Column objects are built
    # once per (session, signature) instead of per merge call.
    sig = (has_sketches, has_qsketch, has_fsketch, has_ssketch, has_days,
           has_stdpat)
    aggs = memo(profiles.sparkSession, ("merge_aggs", *sig), _build_aggs)
    g = profiles.groupBy(*KEY_FIELDS).agg(*aggs)
    if has_qsketch:
        g = g.withColumn("__q__", _merge_quantile_sketches_udf()(F.col("__qsk__"))) \
             .drop("__qsk__")
    if has_fsketch:
        g = g.withColumn("__f__", _merge_freq_sketches_udf()(
                F.col("__fsk__"), F.col("__psk__"))) \
             .drop("__fsk__", "__psk__")
    if has_ssketch:
        g = g.withColumn("__s__", _merge_std_sketches_udf()(F.col("__ssk__"))) \
             .drop("__ssk__")
    if has_days:
        g = g.withColumn(
            "__days__",
            F.when(F.col("__day_slices__") > 0,
                   F.array_sort(F.array_distinct("__days_raw__")))) \
             .drop("__days_raw__", "__day_slices__")
    if has_stdpat:
        # element-wise sum of the slices' raw pattern-match counters, then
        # re-classify exactly like the profiler post-step (first catalog
        # pattern whose summed ratio clears its threshold)
        from dataops_testgen_spark.profiling import regexes as RX

        zero = F.lit(0).cast("bigint")
        merged_map = F.aggregate(
            "__stdpats__",
            F.create_map().cast("map<string,bigint>"),
            lambda acc, m: F.map_zip_with(
                acc, m,
                lambda _k, a, b: F.coalesce(a, zero) + F.coalesce(b, zero)))
        label = F.lit(None).cast("string")
        for lbl, _rx, thr in reversed(RX.STD_PATTERNS):
            ratio = (F.element_at(merged_map, F.lit(lbl)).cast("double")
                     / F.col("value_ct"))
            label = F.when(ratio >= F.lit(float(thr)), F.lit(lbl)) \
                     .otherwise(label)
        g = g.withColumn(
            "__stdpat_map__",
            F.when(F.size("__stdpats__") > 0, merged_map)) \
             .withColumn(
            "__stdpat_label__",
            F.when((F.size("__stdpats__") > 0) & (F.col("value_ct") > 0),
                   label)) \
             .drop("__stdpats__")
    # avg_value in g is already the merged weighted mean, so the identity
    # reduces to SS_total − n·mean², divided by n−1 for the sample sd
    g = g.withColumn(
        "stdev_value",
        F.when(
            F.col("__n_num__") > 1,
            F.sqrt((F.col("__ss__")
                    - F.col("__n_num__") * F.col("avg_value") ** 2)
                   / (F.col("__n_num__") - 1)),
        )).drop("__ss__", "__n_num__")

    out_cols = []
    for field in PROFILE_SCHEMA.fields:
        name = field.name
        if name == "distinct_hll":
            out_cols.append(
                (F.col(name) if has_sketches
                 else F.lit(None).cast("binary")).alias(name))
        elif name == "quantile_sketch":
            out_cols.append(
                (F.col("__q__.sketch") if has_qsketch
                 else F.lit(None).cast("binary")).alias(name))
        elif name in ("freq_sketch", "pattern_sketch"):
            out_cols.append(
                (F.col(f"__f__.{name}") if has_fsketch
                 else F.lit(None).cast("binary")).alias(name))
        elif name in ("top_freq_values", "distinct_value_hash",
                      "top_patterns", "distinct_pattern_ct") and has_fsketch:
            out_cols.append(F.col(f"__f__.{name}").alias(name))
        elif name == "distinct_value_ct" and has_sketches:
            # exact-when-possible: a non-overflowed value counter (strings)
            # or a never-compressed quantile sketch (numerics) IS an exact
            # frequency table, so its distinct count is exact; only columns
            # whose cardinality exceeded every sketch capacity fall back to
            # the HLL estimate
            exact_sources = []
            if has_fsketch:
                exact_sources.append(F.col("__f__.freq_distinct_ct"))
            if has_qsketch:
                exact_sources.append(F.col("__q__.distinct_ct"))
            if has_days:
                exact_sources.append(
                    F.when(F.col("__days__").isNotNull()
                           & (F.col("__day_gran__") == 1),
                           F.size("__days__").cast("long")))
            out_cols.append(
                F.coalesce(
                    *exact_sources,
                    F.hll_sketch_estimate("distinct_hll").cast("long"))
                .alias(name))
        elif name in _SKETCH_PERCENTILES and has_qsketch:
            out_cols.append(
                F.col(f"__q__.{_SKETCH_PERCENTILES[name]}").alias(name))
        elif name == "distinct_std_value_ct" and has_ssketch:
            out_cols.append(
                F.col("__s__.distinct_std_value_ct").alias(name))
        elif name == "std_value_sketch":
            out_cols.append(
                (F.col("__s__.std_value_sketch") if has_ssketch
                 else F.lit(None).cast("binary")).alias(name))
        elif name in ("date_days_present", "date_weeks_present",
                      "date_months_present") and has_days:
            if name == "date_days_present":
                c = F.size("__days__")
            elif name == "date_weeks_present":
                c = F.size(F.array_distinct(F.transform(
                    "__days__",
                    lambda d: F.date_trunc("week", F.to_date(d)))))
            else:
                c = F.size(F.array_distinct(F.transform(
                    "__days__", lambda d: F.trunc(F.to_date(d), "month"))))
            out_cols.append(
                F.when(F.col("__days__").isNotNull(), c)
                 .cast("long").alias(name))
        elif name == "day_set_json":
            out_cols.append(
                (F.when(F.col("__days__").isNotNull(),
                        F.to_json(F.struct(
                            (F.col("__day_gran__") == 1).alias("granular"),
                            F.col("__days__").alias("days")))) if has_days
                 else F.lit(None).cast("string")).alias(name))
        elif name == "std_pattern_match" and has_stdpat:
            out_cols.append(F.col("__stdpat_label__").alias(name))
        elif name == "stdpat_json":
            out_cols.append(
                (F.when(F.col("__stdpat_map__").isNotNull(),
                        F.to_json("__stdpat_map__")) if has_stdpat
                 else F.lit(None).cast("string")).alias(name))
        elif name == "benford_counts":
            out_cols.append(
                F.when(F.col("__bf_ct__") > 0, F.col("__bf__")).alias(name))
        elif name in NON_MERGEABLE_FIELDS:
            out_cols.append(F.lit(None).cast(field.dataType).alias(name))
        elif name == "sample_ratio":
            # merged-from-unsampled-slices is itself an unsampled profile
            out_cols.append(F.lit(1.0).alias(name))
        else:
            out_cols.append(F.col(name).cast(field.dataType).alias(name))
    # Materialize at the boundary: the merged relation is model-sized (one
    # row per column) but its lineage carries the whole sketch-fold tree —
    # grouped HLL unions, three Arrow sketch-merge UDFs, the std-pattern
    # map fold. Every downstream consumer (the inference cascade above
    # all: measured 13 s vs ~3 s of Catalyst analysis on a merged vs leaf
    # profile) would re-analyze and re-run that tree per action without
    # this. The checkpoint job itself folds slices x columns rows.
    return g.select(*out_cols).localCheckpoint()
