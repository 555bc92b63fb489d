"""Numeric-correlation screen: derived/duplicate column detection.

Extends the hygiene-screen family (anomalies/screen.py) sideways the way
the Benford screen does: the reference's contingency rules
(`/root/reference/testgen/template/profiling/contingency_columns.sql`)
find FUNCTIONALLY DEPENDENT categorical pairs; this is the numeric
analogue — a near-1 |Pearson r| between two numeric columns flags a
derived column (unit conversion, tax = rate x price, a copy-paste
duplicate) that wastes storage and double-counts signals downstream.

Wired into the hygiene cascade (the Benford r10 playbook, reference
cascade `profile_anomaly_scoring.sql:1-9` →
`rollup_scores_profile_run.sql:20-38`): ``correlation_anomalies`` turns
the flagged pairs into ``Correlated_Columns`` anomaly rows — eligibility
from the inferred profile (naturally-varying numerics, same family of
preconditions as the Benford rule), likelihood Possible, prevalence =
r² (the shared-variance fraction) × 0.33 risk — and
``screen_anomalies(..., tables=...)`` unions them into the issue
relation, so they flow through prevalence scoring, scorecards and
notifications like every other anomaly type.

Spark shape, narrow tables (the common case): ONE fused agg over the
table — per pair a covar/stddev Pearson (algebraic CentralMomentAgg:
partial-aggregated map-side, exact) plus a both-non-null pair count; the
pair list is K(K-1)/2 expressions over the column COUNT, never a
self-join over rows, and the output unpivots lazily (explode over
literal structs), so the whole screen is one scan + one single-row
exchange regardless of table size.

Wide tables: K(K-1)/2 × 2 fused expressions blow past whole-stage-codegen
limits around a few hundred columns (the same expression-width hazard
kmeans_train's wide-D update had) — above ``max_fused_pairs`` the screen
dispatches to an Arrow matmul kernel (``_correlation_screen_wide``):
one scan, per-batch K×K co-moment partials from four matrix products,
one model-sized (K² rows) exchange, pairwise-deletion semantics
identical to the fused path.
"""
from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dataops_testgen_spark.session import memo

CORRELATED_COLUMNS_TYPE = "Correlated_Columns"
CORRELATION_LIKELIHOOD = "Possible"
CORRELATION_RISK = 0.33
CORRELATION_MIN_ABS = 0.95
CORRELATION_MIN_N = 500
# K(K-1)/2 above which the fused-agg path would push 2x this many
# aggregate expressions into one codegen unit — dispatch to the Arrow
# kernel instead (512 pairs ~ 33 columns ~ 1k expressions, comfortably
# inside codegen; a 300-column table would be ~90k and is not)
MAX_FUSED_PAIRS = 512


def _numeric_cols(df: DataFrame) -> list[str]:
    return [f.name for f in df.schema.fields
            if isinstance(f.dataType, T.NumericType)]


def correlation_eligible() -> Column:
    """Profile-row predicate selecting the columns the cascade screens
    for correlations: naturally-varying numerics — not identifiers,
    periods, or coded categories (the Benford rule's eligibility family,
    anomalies/catalog.py:_benford_fires, minus the digit-census
    preconditions). Mirrored in SQL by oracles._CORR_ELIGIBLE_SQL."""
    from dataops_testgen_spark.inference import helpers as H

    fdt = F.col("functional_data_type")
    return ((F.col("general_type") == "N")
            & ~H.ilike(fdt, "id%")
            & ~H.ilike(fdt, "period%")
            & ~fdt.isin("Sequence", "Category", "Code"))


def _rank_transform(df: DataFrame, cols: list[str],
                    wide_threshold: int = 32) -> DataFrame:
    """Replace each column by its average (fractional) rank over that
    column's non-null values — the Spearman preprocessing step.
    rank(v) = #smaller + (ties+1)/2 — exact, integer arithmetic,
    engine-identical. NULLs stay NULL (pairwise deletion happens
    downstream).

    Shape (r13 rework): ONE melted (column, value) dictionary serves
    every column — ``_rank_dictionary`` builds it with a single melt
    scan, a range-partitioned distributed prefix sum, and a SINGLE
    localCheckpoint. The r12 per-column loop checkpointed K per-column
    dictionaries, and ``localCheckpoint`` EAGERLY plans the full
    Catalyst pipeline at call time (Dataset.checkpoint materializes
    queryExecution.toRdd) — measured ~1 s of driver-side planning per
    column at sf0.1, the dominant cost of the spearman screen seats.
    Now planning is paid once regardless of K.

    Join-back dispatch (r12 verdict #5): at or below ``wide_threshold``
    columns, each column left-joins its slice of the rank dictionary
    back onto the wide relation (broadcast-cheap; K-deep but lazily
    planned once). Above it, ``_rank_transform_long`` pivots the
    ranked long relation back to wide on a pinned row id — constant
    plan depth at any K, at the price of one long-format shuffle."""
    out = df.select(*[F.col(c).cast("double").alias(c) for c in cols])
    if len(cols) > wide_threshold:
        return _rank_transform_long(out, cols)
    ranks = _rank_dictionary(out, cols)
    for c in cols:
        rc = (ranks.filter(F.col("__c") == c)
              .select(F.col("__v").alias(c),
                      F.col("__rk").alias(f"__rk_{c}")))
        out = out.join(rc, c, "left")
    return out.select(*[F.col(f"__rk_{c}").alias(c) for c in cols])


def _rank_dictionary(out: DataFrame, cols: list[str]) -> DataFrame:
    """(__c, __v, __rk): the average rank of every (column, non-null
    value) pair, for all K columns in ONE pass. Melt with ``stack`` (a
    generator — no shuffle, no UDF), fold to the combined distinct
    dictionary (map-side partial agg keeps the shuffle distinct-bounded),
    then the distributed global prefix sum: the dictionary is
    range-partitioned on (column, value), each partition computes LOCAL
    prefix sums in parallel (the window is partitionBy'd per column
    inside each partition), and cross-partition offsets come from a
    (partitions x K) model-sized relation folded with a per-column
    window over partition ids and broadcast-joined back — so a
    10^9-distinct continuous column ranks without ever funnelling
    through one task. The single localCheckpoint pins the sampled
    range-partition assignment (__pid has multiple consumers and a
    recompute could re-sample different boundaries) AND bounds the
    eager-planning tax to one call per table, not one per column."""
    from pyspark.sql import Window

    bad = [c for c in cols if "`" in c or "'" in c]
    if bad:
        raise ValueError(
            f"column names not expressible in the melt literal: {bad!r}")
    melt = ", ".join(f"'{c}', `{c}`" for c in cols)
    long = (out.select(
        F.expr(f"stack({len(cols)}, {melt})").alias("__c", "__v"))
        .filter(F.col("__v").isNotNull()))
    vals = (long.groupBy("__c", "__v").agg(F.count(F.lit(1)).alias("__n"))
            .repartitionByRange(F.col("__c"), F.col("__v"))
            .withColumn("__pid", F.spark_partition_id())
            .localCheckpoint(eager=False))
    w_local = (Window.partitionBy("__pid", "__c").orderBy("__v")
               .rowsBetween(Window.unboundedPreceding, -1))
    local = F.coalesce(F.sum("__n").over(w_local), F.lit(0))
    w_pid = (Window.partitionBy("__c").orderBy("__pid")
             .rowsBetween(Window.unboundedPreceding, -1))
    pid_off = (vals.groupBy("__pid", "__c").agg(F.sum("__n").alias("__t"))
               .withColumn("__off",
                           F.coalesce(F.sum("__t").over(w_pid), F.lit(0)))
               .select("__pid", "__c", "__off"))
    return (vals.join(F.broadcast(pid_off), ["__pid", "__c"])
            .select("__c", "__v",
                    ((F.col("__off") + local).cast("double")
                     + (F.col("__n") + F.lit(1.0)) / 2.0).alias("__rk")))


def _rank_transform_long(out: DataFrame, cols: list[str]) -> DataFrame:
    """Single-pass wide-K join-back (r13): melt the K double columns to
    (row, col, value), join the shared ``_rank_dictionary``, and pivot
    back to wide on a pinned row id. Exactly 3 joins and 2 long-format
    shuffles at ANY K, versus the narrow path's K dictionary joins; the
    extra cost is shuffling the N x K long relation once for the pivot,
    which is why narrow tables keep the per-column join-back."""
    # pin row ids: the melt and the all-NULL-row spine both consume them
    base = (out.withColumn("__rid", F.monotonically_increasing_id())
            .localCheckpoint(eager=False))
    melt = ", ".join(f"'{c}', `{c}`" for c in cols)
    long = (base.select(
        "__rid",
        F.expr(f"stack({len(cols)}, {melt})").alias("__c", "__v"))
        .filter(F.col("__v").isNotNull()))
    ranks = _rank_dictionary(base.drop("__rid"), cols)
    ranked = long.join(ranks, ["__c", "__v"])
    wide = (ranked.groupBy("__rid").pivot("__c", cols)
            .agg(F.first("__rk")))
    # left join on the rid spine so rows whose EVERY column is NULL
    # survive (parity with the per-column join chain)
    return (base.select("__rid").join(wide, "__rid", "left")
            .select(*[F.col(c) for c in cols]))


def correlation_screen(df: DataFrame, cols: list[str] | None = None,
                       min_abs_corr: float = CORRELATION_MIN_ABS,
                       min_n: int = CORRELATION_MIN_N,
                       max_fused_pairs: int = MAX_FUSED_PAIRS,
                       method: str = "pearson") -> DataFrame:
    """(col_a, col_b, n, corr, flagged) for every unordered pair of
    ``cols`` (default: all numeric columns, schema order): sample
    correlation over both-non-null rows, with ``flagged`` =
    |corr| >= min_abs_corr and n >= min_n — the derived/duplicate-column
    signal. Constant columns yield NULL corr (undefined), never a flag.

    ``method``: 'pearson' (linear derivations — copies, unit
    conversions, tax multipliers) or 'spearman' (Pearson over average
    ranks — additionally catches MONOTONE-nonlinear derivations:
    reciprocals, logs, rate curves — that depress a Pearson r well below
    the threshold). Spearman ranks each column once over its non-null
    values (listwise per column — exact Spearman rho when nothing is
    missing; under missing data the pairwise-deletion corr over global
    ranks is the standard large-sample approximation).

    Pair lists larger than ``max_fused_pairs`` route to the Arrow
    matmul kernel (one scan, K² model-sized partials) instead of the
    fused agg, so a 100+-numeric-column warehouse table cannot blow
    whole-stage codegen.
    """
    if method not in ("pearson", "spearman"):
        raise ValueError(f"unknown method {method!r}")
    cols = cols if cols is not None else _numeric_cols(df)
    if len(cols) < 2:
        raise ValueError("need at least two numeric columns")
    seen = set()
    for c in cols:
        if c in seen:
            raise ValueError(f"duplicate column {c!r}")
        seen.add(c)
    if method == "spearman":
        df = _rank_transform(df, cols)
    pairs = [(a, b) for i, a in enumerate(cols) for b in cols[i + 1:]]
    if len(pairs) > max_fused_pairs:
        return _correlation_screen_wide(df, cols, min_abs_corr, min_n)

    def build():
        aggs, entries = [], []
        for i, (a, b) in enumerate(pairs):
            ad, bd = F.col(a).cast("double"), F.col(b).cast("double")
            # sample Pearson spelled as covar/(sd*sd) over the PAIRWISE
            # non-null rows, with try_divide: F.corr under ANSI mode
            # throws DIVIDE_BY_ZERO on a constant column instead of
            # returning the undefined-correlation NULL (DuckDB CORR)
            a_pair = F.when(F.col(b).isNotNull(), ad)
            b_pair = F.when(F.col(a).isNotNull(), bd)
            # exact constant-side guard (r14): stddev_samp of an exactly
            # constant column is 0 at most partition layouts but returns
            # ~1e-16 MERGE NOISE at others (repro: 1000x7.0 -> 2.8e-16 at
            # repartition(5), 0.0 at repartition(6)), and corr then
            # becomes noise/noise — an arbitrary value in [-1,1] that
            # depends on the partitioning. min<max is exact at any
            # layout: constants yield the undefined-correlation NULL
            # everywhere, non-constant pairs are bit-identical to before.
            sd_a = F.when(F.min(a_pair) < F.max(a_pair),
                          F.stddev_samp(a_pair))
            sd_b = F.when(F.min(b_pair) < F.max(b_pair),
                          F.stddev_samp(b_pair))
            aggs.append(F.try_divide(F.covar_samp(ad, bd), sd_a * sd_b)
                        .alias(f"c{i}"))
            aggs.append(F.count(F.when(F.col(a).isNotNull()
                                       & F.col(b).isNotNull(), 1))
                        .alias(f"n{i}"))
            entries.append(F.struct(
                F.lit(a).alias("col_a"), F.lit(b).alias("col_b"),
                F.col(f"n{i}").alias("n"), F.col(f"c{i}").alias("corr")))
        return aggs, entries

    # the fused exprs depend only on the column-name list — cached per
    # session so the cascade's Pearson and rank passes (and every bench
    # rerun) share one build
    aggs, entries = memo(df.sparkSession,
                         ("corr_screen_aggs", tuple(cols)), build)
    one = df.agg(*aggs)
    out = (one.select(F.explode(F.array(*entries)).alias("p"))
           .select("p.col_a", "p.col_b", "p.n", "p.corr"))
    return out.withColumn(
        "flagged",
        F.coalesce((F.abs("corr") >= float(min_abs_corr))
                   & (F.col("n") >= int(min_n)), F.lit(False)))


def _correlation_screen_wide(df: DataFrame, cols: list[str],
                             min_abs_corr: float, min_n: int) -> DataFrame:
    """Wide-K path: pairwise-deletion Pearson for ALL pairs from four
    matrix products per Arrow batch.

    Two passes, mirroring the covariance kernel's discipline
    (pipeline/similarity.py:_covariance_parts): pass 1 folds per-column
    global means (one agg, 2K expressions — linear in K); pass 2 centers
    each batch by the broadcast means (correlation is shift-invariant,
    and centered co-moments dodge the catastrophic E[xy]-E[x]E[y]
    cancellation when |mean| >> std) and emits K(K-1)/2 partial rows per
    batch — with M the not-null mask and Y the centered null-zeroed
    matrix: n = MᵀM, sxy = YᵀY, sx = YᵀM, sxx = (Y²)ᵀM. One model-sized
    groupBy (K² rows regardless of table size) finishes the job; no
    K-wide expression ever reaches Catalyst."""
    import numpy as np

    spark = df.sparkSession
    src = df.select(*[F.col(c).cast("double").alias(c) for c in cols])
    means_row = src.agg(*[F.avg(c).alias(c) for c in cols]).first()
    mu = np.array([means_row[i] if means_row[i] is not None else 0.0
                   for i in range(len(cols))], dtype=float)
    bc = spark.sparkContext.broadcast(mu)

    def partials(batches):
        import numpy as np
        import pandas as pd

        mu_ = bc.value
        k = len(mu_)
        iu, ju = np.triu_indices(k, k=1)
        for pdf in batches:
            if not len(pdf):
                continue
            x = pdf.to_numpy(dtype=float)
            mask = (~np.isnan(x)).astype(float)
            y = np.nan_to_num(x - mu_, nan=0.0)
            y2 = y * y
            n = mask.T @ mask
            sxy = y.T @ y
            sx = y.T @ mask       # sx[a,b] = sum of centered a where both present
            sxx = y2.T @ mask
            yield pd.DataFrame({
                "i": iu, "j": ju,
                "n": n[iu, ju], "sxy": sxy[iu, ju],
                "sx": sx[iu, ju], "sy": sx[ju, iu],
                "sxx": sxx[iu, ju], "syy": sxx[ju, iu]})

    moments = ["n", "sxy", "sx", "sy", "sxx", "syy"]
    # left-join the folded partials onto the static pair list so an
    # EMPTY (or all-null-batch) input still yields one row per pair with
    # n=0 / corr NULL — the fused path's shape (ADVICE r11); the pair
    # list is model-sized (K²/2 rows) and the join broadcasts
    import pandas as pd

    iu0, ju0 = np.triu_indices(len(cols), k=1)
    pair_idx = spark.createDataFrame(pd.DataFrame(
        {"i": iu0.astype("int32"), "j": ju0.astype("int32")}))
    agg = (pair_idx.join(
        src.mapInPandas(
            partials,
            schema="i int, j int, "
                   + ", ".join(f"{m} double" for m in moments))
        .groupBy("i", "j")
        .agg(*[F.sum(m).alias(m) for m in moments]),
        ["i", "j"], "left")
        .withColumn("n", F.coalesce(F.col("n"), F.lit(0.0))))
    nn = F.col("n")
    # sample corr with the (n-1) factors cancelled:
    # (sxy - sx*sy/n) / sqrt((sxx - sx²/n)(syy - sy²/n)); try_divide on
    # n=0 and greatest(,0) on float-noise-negative variances both land on
    # the same NULL the fused path's try_divide produces
    num = F.col("sxy") - F.try_divide(F.col("sx") * F.col("sy"), nn)
    da = F.greatest(F.col("sxx") - F.try_divide(F.col("sx") ** 2, nn),
                    F.lit(0.0))
    db = F.greatest(F.col("syy") - F.try_divide(F.col("sy") ** 2, nn),
                    F.lit(0.0))
    corr = F.try_divide(num, F.sqrt(da * db))
    names = F.array(*[F.lit(c) for c in cols])
    out = agg.select(
        F.element_at(names, F.col("i") + 1).alias("col_a"),
        F.element_at(names, F.col("j") + 1).alias("col_b"),
        F.col("n").cast("long").alias("n"),
        corr.alias("corr"))
    return out.withColumn(
        "flagged",
        F.coalesce((F.abs("corr") >= float(min_abs_corr))
                   & (F.col("n") >= int(min_n)), F.lit(False)))


def correlation_eligible_row(r) -> bool:
    """Driver-side mirror of ``correlation_eligible()`` over a collected
    profile row (needs general_type, functional_data_type). Parity with
    the Column predicate is pinned by
    tests/test_anomalies.py::test_eligibility_row_mirrors_column — the
    fused metadata collect in screen_anomalies depends on it."""
    fdt = r["functional_data_type"]
    if r["general_type"] != "N" or fdt is None:
        return False
    low = fdt.lower()
    return (not low.startswith("id") and not low.startswith("period")
            and fdt not in ("Sequence", "Category", "Code"))


def correlation_anomalies(tables: dict[str, DataFrame],
                          inferred_profile: DataFrame,
                          min_abs_corr: float = CORRELATION_MIN_ABS,
                          min_n: int = CORRELATION_MIN_N,
                          spearman: bool = False,
                          meta_rows: list | None = None) -> DataFrame | None:
    """The cascade hook: flagged correlation pairs as hygiene-anomaly
    rows (the anomalies/screen.py output schema), one row per flagged
    pair anchored on the LATER column in schema order (the "derived"
    side), detail naming its partner.

    Column qualification comes from the inferred profile
    (``correlation_eligible`` — metadata-sized collect, the same shape
    contingency_columns uses); tables with fewer than two qualifying
    columns are skipped. Returns None when nothing qualifies.

    ``spearman=True`` adds a SECOND pass per table — the rank screen —
    whose flagged pairs are anti-joined against the Pearson flags and
    emitted with a distinct "Monotone-correlated" detail and prevalence
    rho² × risk: the monotone-NONLINEAR derivations (reciprocals, logs,
    rate curves) a linear r misses entirely. Same anomaly type
    (Correlated_Columns), so prevalence/rollup/scorecard flow unchanged.
    Cost: one extra rank-transform + fused agg per table, so it is
    opt-in (run-profile/run-anomalies --spearman)."""
    # ``meta_rows``: pre-collected (table_name, column_name, general_type,
    # functional_data_type, distinct_value_ct) profile rows — screen_
    # anomalies collects the metadata ONCE and shares it with
    # dependence_anomalies (3 near-identical tiny jobs -> 1).
    if meta_rows is None:
        elig = (inferred_profile.filter(correlation_eligible())
                .select("table_name", "column_name").collect())
    else:
        elig = [r for r in meta_rows if correlation_eligible_row(r)]
    by_table: dict[str, set[str]] = {}
    for r in elig:
        by_table.setdefault(r["table_name"], set()).add(r["column_name"])
    out = None
    for t in sorted(tables):
        df = tables[t]
        cols = [f.name for f in df.schema.fields
                if f.name in by_table.get(t, set())]    # schema order
        if len(cols) < 2:
            continue
        scr = correlation_screen(df, cols=cols, min_abs_corr=min_abs_corr,
                                 min_n=min_n)
        if spearman:
            # the pearson relation feeds both its own flag rows and the
            # anti-join below; model-sized (K² rows), so checkpointing
            # avoids running the fused agg twice
            scr = scr.localCheckpoint(eager=False)
        rows = scr.filter("flagged").select(
            F.lit(t).alias("table_name"),
            F.col("col_b").alias("column_name"),
            F.lit(CORRELATED_COLUMNS_TYPE).alias("anomaly_type"),
            F.lit("Correlation").alias("data_object"),
            F.lit(CORRELATION_LIKELIHOOD).alias("likelihood"),
            F.concat(F.lit("Correlated with "), F.col("col_a"),
                     F.lit(": r="),
                     F.round("corr", 5).cast("string")).alias("detail"),
            (F.col("corr") * F.col("corr")
             * F.lit(CORRELATION_RISK)).alias("dq_prevalence"))
        if spearman:
            rk = correlation_screen(df, cols=cols,
                                    min_abs_corr=min_abs_corr,
                                    min_n=min_n, method="spearman")
            only = rk.filter("flagged").join(
                scr.filter("flagged").select("col_a", "col_b"),
                ["col_a", "col_b"], "left_anti")
            rows = rows.unionByName(only.select(
                F.lit(t).alias("table_name"),
                F.col("col_b").alias("column_name"),
                F.lit(CORRELATED_COLUMNS_TYPE).alias("anomaly_type"),
                F.lit("Correlation").alias("data_object"),
                F.lit(CORRELATION_LIKELIHOOD).alias("likelihood"),
                F.concat(F.lit("Monotone-correlated with "),
                         F.col("col_a"), F.lit(": rho="),
                         F.round("corr", 5).cast("string")).alias("detail"),
                (F.col("corr") * F.col("corr")
                 * F.lit(CORRELATION_RISK)).alias("dq_prevalence")))
        out = rows if out is None else out.unionByName(rows)
    return out
