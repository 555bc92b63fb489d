"""Inclusion-dependency (foreign-key candidate) discovery.

The reference's ID-FK inference (functional_datatype.sql:559-571, our
`functional_type._id_refinement`) marks a column ID-FK only when
the SAME column name is ID-Unique in another table. Real schemas rename
keys at every hop — TPC-H itself: ``n_regionkey`` referencing
``r_regionkey`` — so this extension discovers candidates by PROFILE
signature and verifies them by measured containment, the directional
inclusion dependency child ⊆ parent (Casanova et al. 1982's IND; the
SPIDER/BINDER pruning idea of using min/max/distinct metadata before
touching data).

Spark shape, 100 TB discipline:

- **Candidate pruning is metadata-only** — one collect over the inferred
  profile (the correlation/dependence eligibility pattern). A parent
  must be a unique non-null key by its own profile
  (``distinct_value_ct = value_ct = record_ct > 0``); a child must share
  the parent's general_type, have ``1 <= distinct_value_ct <=``
  parent's, and its [min, max] bounds must sit inside the parent's
  (``min_value``/``max_value`` for numerics, ``min_text``/``max_text``
  lexically for strings) — a necessary condition for containment, so
  pruning never drops a true FK.
- **Each (table, column) dictionary is built ONCE** (r13): every
  participating column's non-null distinct dictionary is
  localCheckpointed on first build and reused by every pair touching
  it — a column referenced by K candidate pairs costs one scan, not K.
- **Verification is ONE join per parent**: the tagged child
  dictionaries referencing a parent union together and LEFT-join the
  parent's dictionary in a single pass, folding to one
  (child_distinct, matched) row per pair. Dictionaries are
  distinct-bounded, the join is a key-equality shuffle at worst
  (broadcast when a side is small) — never an all-pairs or data×data
  product. ``max_candidates`` caps the pair count so a pathological
  profile cannot fan out unbounded jobs; the cap is applied on a
  deterministic ordering and reported via the ``pruned`` return.
  (A pair whose child table is physically empty no longer emits a
  zero row — pruning already requires distinct_value_ct ≥ 1, so the
  case needs a stale profile to arise at all.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

FK_MIN_CONTAINMENT = 0.99

_PROFILE_FIELDS = ["table_name", "column_name", "general_type",
                   "record_ct", "value_ct", "distinct_value_ct",
                   "min_value", "max_value", "min_text", "max_text"]


def _is_parent(r) -> bool:
    return (r["record_ct"] is not None and r["record_ct"] > 0
            and r["value_ct"] == r["record_ct"]
            and r["distinct_value_ct"] == r["value_ct"]
            and r["general_type"] in ("N", "A"))


def _bounds_within(child, parent) -> bool:
    gt = parent["general_type"]
    if gt == "N":
        lo, hi, plo, phi = (child["min_value"], child["max_value"],
                            parent["min_value"], parent["max_value"])
    else:
        lo, hi, plo, phi = (child["min_text"], child["max_text"],
                            parent["min_text"], parent["max_text"])
    if None in (lo, hi, plo, phi):
        # missing bounds: keep the candidate (conservative — pruning
        # must never drop a true FK), let verification decide
        return True
    return lo >= plo and hi <= phi


def fk_candidate_pairs(inferred_profile: DataFrame,
                       columns: dict[str, list[str]] | None = None,
                       max_candidates: int = 64,
                       min_child_distinct: int = 1):
    """[(child_table, child_col, parent_table, parent_col)] surviving the
    metadata pruning, deterministically ordered; second return is the
    number dropped by the ``max_candidates`` cap (0 = complete).

    ``columns``: optional {table: [cols]} restriction (the seat/CLI
    shape); default considers every profiled column."""
    rows = (inferred_profile.select(*_PROFILE_FIELDS).collect())
    prof = {}
    for r in rows:
        if columns is not None:
            allowed = columns.get(r["table_name"])
            if allowed is None or r["column_name"] not in allowed:
                continue
        prof[(r["table_name"], r["column_name"])] = r
    parents = sorted(k for k, r in prof.items() if _is_parent(r))
    pairs = []
    for ck in sorted(prof):
        child = prof[ck]
        if (child["distinct_value_ct"] is None
                or child["distinct_value_ct"] < max(1, min_child_distinct)):
            # min_child_distinct is the standard IND noise guard: a
            # 1..7-valued column sits inside EVERY dense key range and
            # flags against all of them (Papenbrock's BINDER reports the
            # same small-domain pathology) — raising the floor cuts the
            # false-positive fan without touching real FKs
            continue
        for pk in parents:
            if pk == ck:
                continue
            parent = prof[pk]
            if child["general_type"] != parent["general_type"]:
                continue
            if child["distinct_value_ct"] > parent["distinct_value_ct"]:
                continue
            if not _bounds_within(child, parent):
                continue
            pairs.append((ck[0], ck[1], pk[0], pk[1]))
    dropped = max(0, len(pairs) - max_candidates)
    return pairs[:max_candidates], dropped


def _dictionary(tables: dict[str, DataFrame], t: str, c: str) -> DataFrame:
    """One (table, column) non-null distinct-value dictionary — built
    exactly once per participating column (see fk_discovery)."""
    return (tables[t].select(F.col(c).alias("v"))
            .filter(F.col("v").isNotNull()).distinct())


def fk_discovery(tables: dict[str, DataFrame], inferred_profile: DataFrame,
                 columns: dict[str, list[str]] | None = None,
                 min_containment: float = FK_MIN_CONTAINMENT,
                 max_candidates: int = 64,
                 min_child_distinct: int = 1) -> DataFrame | None:
    """(child_table, child_column, parent_table, parent_column,
    child_distinct, matched, containment, flagged) for every candidate
    pair; ``flagged`` when containment >= min_containment. Counts are
    exact integers (hash-stable); containment is their ratio. Returns
    None when nothing survives pruning."""
    pairs, dropped = fk_candidate_pairs(inferred_profile, columns=columns,
                                        max_candidates=max_candidates,
                                        min_child_distinct=min_child_distinct)
    if dropped:
        import warnings

        warnings.warn(f"fk_discovery: max_candidates={max_candidates} "
                      f"dropped {dropped} candidate pair(s)")
    if not pairs:
        return None
    # Build each participating (table, column) distinct dictionary ONCE
    # (≤1 _dictionary call per column, asserted by
    # tests/test_fk_discovery.py via call count). r14: checkpoint a
    # dictionary ONLY when more than one downstream consumer scans it —
    # after the union-verify rework each child dictionary is consumed
    # once per parent group and each parent once per (parent, child-type)
    # group, so most dictionaries have exactly ONE consumer and their
    # localCheckpoint was pure overhead (a lazy localCheckpoint still
    # runs the full analyze→optimize→toRdd pipeline at call time —
    # measured 0.85 s of the seat's 1.5 s warm total across 8 calls).
    # Multi-consumer dictionaries (a child verified against several
    # parents, or a column that is both child and parent key of distinct
    # groups) keep the checkpoint so the distinct() scan runs once — the
    # r12 at-scale guarantee is unchanged.
    child_type: dict[tuple[str, str], str] = {}
    for ct, cc, pt, pc in pairs:
        child_type[(ct, cc)] = (
            tables[ct].schema[cc].dataType.simpleString())
    refs: dict[tuple[str, str], int] = {}
    parent_groups = set()
    for ct, cc, pt, pc in pairs:
        refs[(ct, cc)] = refs.get((ct, cc), 0) + 1
        parent_groups.add((pt, pc, child_type[(ct, cc)]))
    for pt, pc, _vt in parent_groups:
        refs[(pt, pc)] = refs.get((pt, pc), 0) + 1
    dicts: dict[tuple[str, str], DataFrame] = {}
    for ct, cc, pt, pc in pairs:
        for t, c in ((ct, cc), (pt, pc)):
            if (t, c) not in dicts:
                d = _dictionary(tables, t, c)
                if refs.get((t, c), 0) > 1:
                    d = d.localCheckpoint(eager=False)
                dicts[(t, c)] = d
    # Verify all pairs sharing a parent in ONE join: union the tagged
    # child dictionaries (grouped by the child value's Spark type so
    # unionByName never widens across unlike children) against the
    # parent dictionary, then fold per (child_table, child_column).
    # P pairs collapse to one shuffle join per (parent, child-type).
    groups: dict[tuple, list[tuple[str, str]]] = {}
    for ct, cc, pt, pc in pairs:
        vt = dicts[(ct, cc)].schema["v"].dataType.simpleString()
        groups.setdefault((pt, pc, vt), []).append((ct, cc))
    out = None
    for (pt, pc, _vt), children in sorted(groups.items()):
        pdict = dicts[(pt, pc)].withColumn("_hit", F.lit(1))
        u = None
        for ct, cc in children:
            tagged = dicts[(ct, cc)].select(
                F.lit(ct).alias("child_table"),
                F.lit(cc).alias("child_column"), "v")
            u = tagged if u is None else u.unionByName(tagged)
        per = (u.join(pdict, "v", "left")
               .groupBy("child_table", "child_column")
               .agg(F.count(F.lit(1)).alias("child_distinct"),
                    F.count("_hit").alias("matched"))
               .select(
                   "child_table", "child_column",
                   F.lit(pt).alias("parent_table"),
                   F.lit(pc).alias("parent_column"),
                   F.col("child_distinct"), F.col("matched"),
                   F.try_divide(F.col("matched").cast("double"),
                                F.col("child_distinct").cast("double"))
                   .alias("containment")))
        out = per if out is None else out.unionByName(per)
    return out.withColumn(
        "flagged",
        F.coalesce(F.col("containment") >= float(min_containment),
                   F.lit(False)))


def fk_to_test_defs(discovered: DataFrame, run_date: str) -> DataFrame:
    """Flagged inclusion dependencies → ``Combo_Match`` test definitions
    (the generation/selection.py test_definitions schema): every child
    (table, column) combination must keep existing in the parent — the
    referential-integrity monitor the reference leaves to manual
    configuration. Feed through ``merge_test_defs`` / ``to_test_defs``
    like any generated test; the CAT/query runner executes it as the
    standard set-difference Combo_Match."""
    return discovered.filter("flagged").select(
        F.lit("Combo_Match").alias("test_type"),
        F.col("child_table").alias("table_name"),
        F.col("child_column").alias("column_name"),
        F.lit("Y").alias("test_active"),
        F.lit(run_date).alias("last_auto_gen_date"),
        F.map_from_arrays(
            F.array(F.lit("match_table_name"),
                    F.lit("match_groupby_names"),
                    # fail on ANY orphaned combo (measure > 0): a NULL
                    # threshold would fall through evaluate_condition's
                    # ELSE and always pass
                    F.lit("threshold_value"),
                    # NULL-FK semantics (r12 ADVICE): discovery measures
                    # containment over NON-NULL child values only (and
                    # referential_monitor documents NULL reference = "no
                    # reference", not an orphan), but combo_match joins
                    # with eqNullSafe — without this subset a nullable
                    # child column yields a {NULL} orphan combo and the
                    # threshold-0 test fails forever
                    F.lit("subset_condition"),
                    # provenance marker: run-tests' monitor sync touches
                    # ONLY defs it generated (manually-authored
                    # Combo_Match defs are never auto-deactivated)
                    F.lit("generated_by")),
            F.array(F.col("parent_table"), F.col("parent_column"),
                    F.lit("0"),
                    F.concat(F.col("child_column"),
                             F.lit(" IS NOT NULL")),
                    F.lit("fk_discovery")),
        ).alias("params"))


def sync_fk_monitors(tables: dict[str, DataFrame],
                     inferred_profile: DataFrame,
                     suite_defs: DataFrame,
                     run_date: str,
                     min_containment: float = FK_MIN_CONTAINMENT,
                     max_candidates: int = 64,
                     min_child_distinct: int = 20):
    """Re-verify a stored suite's FK-DISCOVERED Combo_Match monitors
    against the CURRENT data and return (updated_defs, changes).

    The reference regenerates monitor definitions on every execution run
    (`run_test_execution.py:172-204` — stale autogen tests are pruned
    before the suite executes); this is the same contract for the FK
    extension: a stored referential monitor whose inclusion dependency
    no longer holds (column dropped, containment collapsed, parent no
    longer a unique key) flips ``test_active`` to 'N' instead of failing
    forever, and a newly-discovered FK joins the suite. Only defs
    carrying the ``generated_by=fk_discovery`` provenance param are
    touched — manually-authored Combo_Match monitors are never
    auto-deactivated. All bookkeeping is metadata-sized (the suite defs
    collect); the data work is one fk_discovery pass, itself bounded by
    ``max_candidates`` dictionary joins."""
    spark = suite_defs.sparkSession
    params = F.col("params")
    is_fk = ((F.col("test_type") == "Combo_Match")
             & (params.getItem("generated_by") == "fk_discovery"))
    fk_rows = suite_defs.filter(is_fk).collect()
    if not fk_rows:
        return suite_defs, {"deactivated": 0, "added": 0}
    disc = fk_discovery(tables, inferred_profile,
                        min_containment=min_containment,
                        max_candidates=max_candidates,
                        min_child_distinct=min_child_distinct)
    flagged = {} if disc is None else {
        (r["child_table"], r["child_column"],
         r["parent_table"], r["parent_column"]): r
        for r in disc.filter("flagged").collect()}
    stored = {(r["table_name"], r["column_name"],
               dict(r["params"])["match_table_name"],
               dict(r["params"])["match_groupby_names"]) for r in fk_rows}
    stale = stored - set(flagged)
    fresh = set(flagged) - stored
    if not stale and not fresh:
        return suite_defs, {"deactivated": 0, "added": 0}
    out = suite_defs
    if stale:
        stale_df = spark.createDataFrame(
            [(ct, cc, pt, pc) for ct, cc, pt, pc in sorted(stale)],
            "t string, c string, p string, k string")
        stale_cond = (is_fk & (F.col("table_name") == F.col("__s.t"))
                      & (F.col("column_name") == F.col("__s.c"))
                      & (params.getItem("match_table_name") == F.col("__s.p"))
                      & (params.getItem("match_groupby_names")
                         == F.col("__s.k")))
        out = (out.join(F.broadcast(stale_df.alias("__s")), stale_cond,
                        "left")
               .withColumn("test_active",
                           F.when(F.col("__s.t").isNotNull(), F.lit("N"))
                           .otherwise(F.col("test_active")))
               .drop("t", "c", "p", "k"))
    if fresh:
        added = fk_to_test_defs(
            disc.join(
                F.broadcast(spark.createDataFrame(
                    [tuple(k) for k in sorted(fresh)],
                    "child_table string, child_column string, "
                    "parent_table string, parent_column string")),
                ["child_table", "child_column",
                 "parent_table", "parent_column"], "left_semi"),
            run_date)
        # the caller's suite relation has store bookkeeping columns
        # stripped; record_test_generation re-stamps them on persist
        added = added.drop("last_auto_gen_date")
        out = out.unionByName(added, allowMissingColumns=True)
    return out, {"deactivated": len(stale), "added": len(fresh)}
