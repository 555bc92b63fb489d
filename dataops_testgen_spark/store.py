"""Parquet-backed run store — the reference's Postgres app DB dissolved into
a lakehouse directory.

The reference persists every run into app-DB tables (``profiling_runs``,
``profile_results``, ``profile_anomaly_results``, ``test_suites``,
``test_definitions``, ``test_runs``, ``test_results``) and serves its CLI
list/get commands with SQL over them
(`/root/reference/testgen/commands/run_get_entities.py`,
`/root/reference/testgen/template/get_entities/*.sql`).  Here the same
tables are append-mode parquet under one root directory, and the entity
queries are Spark DataFrame plans over them.

Scale note: these are metadata-plane tables (one row per profiled column /
test / run, not per data row), so they stay tiny relative to the data being
profiled; appends are new parquet files per run (no rewrite), and every
entity query filters on run/suite first so partition pruning applies if the
store is later partitioned by run_id.

Profile reuse: each stored profiling run carries ``input_key``
(``profile_input_key``), a hash of its tables' input files (path, length,
modification time), run date, profiling options and profile schema. A
consumer holding the same key reads that run's ``profile_results`` rows
(``stored_profile``) instead of profiling the same files again. Incremental
runs store a merged profile and therefore a NULL key.

Declared schemas: every table has one ``StructType`` in ``SCHEMAS``,
composed from the schema of the module that produces its rows (profiler +
inference, anomaly screen, test generation, test execution, score refresh)
plus its run stamps, partition column last. ``read`` returns exactly that
schema for every table: a column a file lacks reads as NULL (a store
written before ``profiling_runs.input_key`` existed, or a monitor run's
narrower ``test_results`` rows), a table nobody has written reads as an
empty frame, and no footer is read to infer a schema, so a read submits no
Spark job. The entity queries therefore run the same plan over an empty
store as over a populated one. Each recorded run writes one parquet file
per table.
"""

from __future__ import annotations

import hashlib
import json
import os
import uuid
import datetime as dt

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

from dataops_testgen_spark.anomalies.screen import SCREEN_SCHEMA
from dataops_testgen_spark.execution.cat import RESULT_SCHEMA
from dataops_testgen_spark.generation.selection import TEST_DEFINITION_SCHEMA
from dataops_testgen_spark.inference.postprocess import INFERRED_SCHEMA
from dataops_testgen_spark.scoring.refresh import (SCORE_CARD_SCHEMA,
                                                   SCORE_HISTORY_SCHEMA)
from dataops_testgen_spark.session import local_frame

# The store's largest relations and the keys their every-refresh consumers
# join/group on: the scoring refresh joins profile_anomaly_results to
# profile_results on (table_name, column_name) and rollup_scores groups on
# the same pair. Bucketing these three on that key makes the whole scoring
# path plan with zero shuffle Exchange (the run-id filter stays a parquet
# min/max pushdown — these are metadata-plane tables, so losing the run-id
# DIRECTORY pruning costs little next to losing the per-refresh shuffles).
BUCKETED_STORE_KEYS: dict[str, list[str]] = {
    "profile_results": ["table_name", "column_name"],
    "profile_anomaly_results": ["table_name", "column_name"],
    "test_results": ["table_name", "column_name"],
}


def _strings(*names: str,
             base: T.StructType = T.StructType()) -> T.StructType:
    """``base`` followed by string columns ``names``."""
    return T.StructType([*base.fields,
                         *(T.StructField(n, T.StringType()) for n in names)])


# App-DB tables persisted per run (ref dbsetup 030_initialize_new_schema
# structure — the subset that survives the engine redesign), each with the
# one schema every read returns. Partition columns come last, as a
# partitioned read lists them.
SCHEMAS: dict[str, T.StructType] = {
    "profiling_runs": _strings("profile_run_id", "project_key",
                               "table_groups_id", "start_time", "run_date",
                               "status", "input_key"),
    "profile_results": _strings("profile_run_id", base=INFERRED_SCHEMA),
    "profile_anomaly_results": _strings("profile_run_id", base=SCREEN_SCHEMA),
    "test_suites": _strings("test_suite_id", "project_key",
                            "test_suite_key"),
    "test_definitions": _strings("profiling_as_of_date", "test_suite_key",
                                 base=TEST_DEFINITION_SCHEMA),
    "test_runs": _strings("test_run_id", "project_key", "test_suite_key",
                          "test_starttime", "run_date", "status"),
    "test_results": _strings("test_suite_key", "test_run_id",
                             base=RESULT_SCHEMA),
    # scoring refresh layer (ref run_rollup_scores / score card results)
    "score_history": SCORE_HISTORY_SCHEMA,
    "score_cards": SCORE_CARD_SCHEMA,
}
TABLES = tuple(SCHEMAS)


def profile_input_key(tables: dict[str, DataFrame], run_date: str,
                      approx: bool = False,
                      sample: bool = False) -> str | None:
    """``profiling_runs.input_key`` for a profile of ``tables``: a hash of
    every table's input files as (path, length, modification time), the
    run date, the profiling options and ``PROFILE_SCHEMA``'s field names.
    None when a table has no input files, so the run is never reused. The
    tables are whole files as the CLI loads them: a filtered relation
    would get the key of its unfiltered files."""
    from dataops_testgen_spark.io.loaders import file_listing
    from dataops_testgen_spark.profiling.profiler import PROFILE_SCHEMA

    files = {name: file_listing(df) for name, df in tables.items()}
    if not files or None in files.values():
        return None
    doc = json.dumps([files, run_date, approx, sample,
                      PROFILE_SCHEMA.fieldNames()], sort_keys=True)
    return hashlib.sha256(doc.encode()).hexdigest()


class RunStore:
    """Append/read accessors + the get_entities query layer.

    ``bucket_results=N`` switches the BUCKETED_STORE_KEYS tables to
    external bucketed catalog tables (data stays under the store root);
    reads re-register the table in a fresh session from the bucketed
    files, so the layout survives process restarts."""

    def __init__(self, spark: SparkSession, root: str,
                 project_key: str = "DEFAULT",
                 bucket_results: int | None = None):
        self.spark = spark
        self.root = root
        self.project_key = project_key
        self.bucket_results = bucket_results
        os.makedirs(root, exist_ok=True)
        meta = os.path.join(root, "project.json")
        if not os.path.exists(meta):
            with open(meta, "w") as fh:
                json.dump({"project_key": project_key,
                           "created": dt.datetime.now().isoformat(),
                           "bucket_results": bucket_results}, fh)
        else:
            with open(meta) as fh:
                m = json.load(fh)
            if bucket_results is None:
                # a store written bucketed stays bucketed: later sessions
                # pick the layout up from the meta, no flag needed
                self.bucket_results = m.get("bucket_results")
            elif m.get("bucket_results") != bucket_results:
                if m.get("bucket_results"):
                    # appending with a different bucket count into the
                    # existing bucketed files would corrupt the layout
                    raise ValueError(
                        f"store at {root} is bucketed with "
                        f"{m['bucket_results']} buckets; cannot switch to "
                        f"{bucket_results} (rewrite the store to change)")
                m["bucket_results"] = bucket_results
                with open(meta, "w") as fh:
                    json.dump(m, fh)

    # -- raw table access ---------------------------------------------------

    def _path(self, table: str) -> str:
        if table not in TABLES:
            raise ValueError(f"unknown store table {table!r}")
        return os.path.join(self.root, table)

    def _bucketed(self, table: str) -> bool:
        return bool(self.bucket_results) and table in BUCKETED_STORE_KEYS

    def _catalog_name(self, table: str) -> str:
        h = hashlib.md5(os.path.abspath(self.root).encode()).hexdigest()[:8]
        return f"tg_store_{h}_{table}"

    def _bucketed_path(self, table: str) -> str:
        return self._path(table) + "_bucketed"

    def append(self, table: str, df: DataFrame,
               partition_by: str | None = None) -> None:
        """Append-mode parquet write; result tables are directory-partitioned
        on their run/suite id so every entity query's leading filter becomes
        a partition-pruned scan (one run's files read, not the whole
        history). In bucketed mode the BUCKETED_STORE_KEYS tables append
        through the bucketed catalog table instead."""
        if self._bucketed(table):
            # the catalog table holds the declared columns: a narrower
            # frame (a monitor run's results) appends NULL for the others
            have = set(df.columns)
            df = df.select(*(
                F.col(f.name) if f.name in have
                else F.lit(None).cast(f.dataType).alias(f.name)
                for f in SCHEMAS[table].fields))
            keys = BUCKETED_STORE_KEYS[table]
            (df.write.mode("append")
             .bucketBy(self.bucket_results, keys[0], *keys[1:])
             .sortBy(*keys)
             .option("path", self._bucketed_path(table))
             .format("parquet").saveAsTable(self._register_bucketed(table)))
            return
        w = df.write.mode("append")
        if partition_by:
            w = w.partitionBy(partition_by)
        w.parquet(self._path(table))

    def _register_bucketed(self, table: str) -> str:
        """The catalog name of a bucketed store table, created from its
        declared schema over the bucketed files when this session has no
        entry yet (an earlier session's files keep their bucket ids in
        their names, so the layout survives restarts)."""
        name = self._catalog_name(table)
        if not self.spark.catalog.tableExists(name):
            ddl = ", ".join(f"`{f.name}` {f.dataType.simpleString()}"
                            for f in SCHEMAS[table].fields)
            keys = ", ".join(BUCKETED_STORE_KEYS[table])
            self.spark.sql(
                f"CREATE TABLE {name} ({ddl}) USING parquet "
                f"CLUSTERED BY ({keys}) SORTED BY ({keys}) "
                f"INTO {self.bucket_results} BUCKETS "
                f"LOCATION '{self._bucketed_path(table)}'")
        return name

    def _bucketed_on_disk(self, table: str) -> bool:
        # a store created without bucketing may still hold the table as
        # plain parquet
        return self._bucketed(table) and os.path.isdir(
            self._bucketed_path(table))

    def read(self, table: str) -> DataFrame:
        """``table`` with its declared schema (``SCHEMAS``); empty when
        nothing was written to it. No Spark job runs."""
        if self._bucketed_on_disk(table):
            return self.spark.table(self._register_bucketed(table))
        path = self._path(table)
        if not os.path.isdir(path):
            return local_frame(self.spark, [], SCHEMAS[table])
        return self.spark.read.schema(SCHEMAS[table]).parquet(path)

    def _append_header(self, table: str, *values: str | None) -> None:
        # a one-row LocalRelation is one partition, so one file; a
        # parallelized list spreads over every core and each empty slice
        # writes a schema-only file
        self.append(table, local_frame(self.spark, [values], SCHEMAS[table]))

    @staticmethod
    def new_run_id() -> str:
        return str(uuid.uuid4())

    # -- run recording ------------------------------------------------------

    def record_profile_run(self, inferred: DataFrame, anomalies: DataFrame,
                           table_group_id: str, run_date: str,
                           status: str = "Complete",
                           input_key: str | None = None) -> str:
        """Persist one profiling run: header row + per-column results +
        anomaly screen output (ref run_profiling_bridge.py writes the same
        three). ``input_key`` (``profile_input_key``) is set only when
        ``inferred`` is the profile of exactly those inputs. Each table
        gets one file for the run."""
        run_id = self.new_run_id()
        self._append_header("profiling_runs", run_id, self.project_key,
                            table_group_id, dt.datetime.now().isoformat(),
                            run_date, status, input_key)
        for table, rows in (("profile_results", inferred),
                            ("profile_anomaly_results", anomalies)):
            self.append(table, rows.coalesce(1)
                        .withColumn("profile_run_id", F.lit(run_id)),
                        partition_by="profile_run_id")
        return run_id

    def record_test_generation(self, test_definitions: DataFrame,
                               test_suite_key: str, run_date: str) -> None:
        """Persist generated test_definitions stamped with suite + gen date
        (ref test_definitions.last_auto_gen_date semantics). Regeneration
        for the same suite replaces the prior generation (upsert semantics
        live in generation.selection.merge_test_defs; the store keeps every
        generation, consumers take the latest per suite)."""
        known = {r["test_suite_key"] for r in self.read("test_suites")
                 .select("test_suite_key").distinct().collect()}
        if test_suite_key not in known:
            self._append_header("test_suites", str(uuid.uuid4()),
                                self.project_key, test_suite_key)
        self.append(
            "test_definitions",
            test_definitions
            .withColumn("test_suite_key", F.lit(test_suite_key))
            .withColumn("last_auto_gen_date",
                        F.lit(dt.datetime.now().isoformat()))
            .withColumn("profiling_as_of_date", F.lit(run_date)),
            partition_by="test_suite_key")

    def record_test_run(self, results: DataFrame, test_suite_key: str,
                        run_date: str, status: str = "Complete",
                        start_time: str | None = None) -> str:
        """Persist one test run: header row + its results, one file."""
        run_id = self.new_run_id()
        self._append_header("test_runs", run_id, self.project_key,
                            test_suite_key,
                            start_time or dt.datetime.now().isoformat(),
                            run_date, status)
        self.append("test_results",
                    results.coalesce(1)
                    .withColumn("test_run_id", F.lit(run_id))
                    .withColumn("test_suite_key", F.lit(test_suite_key)),
                    partition_by="test_run_id")
        return run_id

    def stored_profile(self, input_key: str) -> DataFrame | None:
        """The inferred profile of the latest run stored with ``input_key``,
        read once into a single-partition driver-local frame; None when no
        stored run has that key."""
        hit = (self.read("profiling_runs")
               .filter(F.col("input_key") == input_key)
               .orderBy(F.col("start_time").desc()).limit(1).collect())
        if not hit:
            return None
        run_id = hit[0]["profile_run_id"]
        if self._bucketed_on_disk("profile_results"):
            # bucketed files hold rows in bucket order
            res = (self.read("profile_results")
                   .filter(F.col("profile_run_id") == run_id)
                   .drop("profile_run_id")
                   .orderBy("table_name", "column_name"))
        else:
            # the run's own file, so its rows keep their profiled order
            path = os.path.join(self._path("profile_results"),
                                f"profile_run_id={run_id}")
            if not os.path.isdir(path):
                return None
            res = self.spark.read.schema(INFERRED_SCHEMA).parquet(path)
        rows = res.toArrow()
        if not rows.num_rows:
            return None
        return local_frame(self.spark, rows, res.schema).coalesce(1)

    # -- get_entities queries ----------------------------------------------
    # Each mirrors one template/get_entities/*.sql; all filter before
    # aggregating and join only metadata-sized tables.

    def list_profiles(self, table_group_id: str | None = None) -> DataFrame:
        """get_profile_list.sql — one row per profiling run with table and
        column counts."""
        runs, res = self.read("profiling_runs"), self.read("profile_results")
        if table_group_id:
            runs = runs.filter(F.col("table_groups_id") == table_group_id)
        counts = res.groupBy("profile_run_id").agg(
            F.countDistinct("table_name").alias("tables"),
            F.countDistinct(F.concat_ws(".", "table_name", "column_name"))
            .alias("columns"))
        return (runs.join(counts, "profile_run_id")
                .select("profile_run_id", "project_key", "table_groups_id",
                        "start_time", "status", "tables", "columns")
                .orderBy(F.col("start_time").desc()))

    def profile_info(self, profile_run_id: str,
                     table_name: str | None = None) -> DataFrame:
        """get_profile_info.sql — per-column type detail for one run."""
        out = self.read("profile_results").filter(
            F.col("profile_run_id") == profile_run_id)
        if table_name:
            out = out.filter(F.lower("table_name") == table_name.lower())
        return (out.select("profile_run_id", "run_date", "table_name",
                           "column_name", "general_type", "column_type",
                           "functional_data_type")
                .orderBy("table_name", "column_name"))

    def diff_profiles(self, run_a: str | None = None,
                      run_b: str | None = None,
                      table_group_id: str | None = None) -> DataFrame:
        """Per-column metric drift between two stored profile runs —
        volume (record/value/null counts), cardinality, and semantic
        changes (functional type, std pattern). Defaults to the table
        group's two most recent runs so a scheduled
        ``run-profile --store`` cycle can be followed by
        ``diff-profiles`` with no ids. Only columns where a tracked field
        changed (or that appear/disappear) are emitted. No reference CLI
        counterpart (the reference shows run-over-run drift in its UI
        trend views); the metric set mirrors profile_results.

        Metadata-plane: both sides are one row per column."""
        res = self.read("profile_results")
        if run_a is None or run_b is None:
            # default each missing id INDEPENDENTLY: a caller passing only
            # one id means "diff that run against its natural counterpart",
            # not "ignore what I passed and use the latest two"
            r = self.read("profiling_runs")
            if table_group_id:
                r = r.filter(F.col("table_groups_id") == table_group_id)
            ordered = [x["profile_run_id"] for x in
                       r.orderBy(F.col("start_time").desc()).collect()]
            if run_b is None:
                # newest run (newest distinct from run_a when only a given)
                run_b = next((x for x in ordered if x != run_a), None)
            if run_a is None:
                # the run immediately BEFORE run_b in start_time order
                later = (ordered.index(run_b) + 1 if run_b in ordered
                         else len(ordered))
                run_a = ordered[later] if later < len(ordered) else None
            if run_a is None or run_b is None:
                res = res.limit(0)      # no counterpart run: no diff
        tracked = ["record_ct", "value_ct", "null_value_ct",
                   "distinct_value_ct", "functional_data_type",
                   "std_pattern_match"]
        keys = ["table_name", "column_name"]
        a = res.filter(F.col("profile_run_id") == run_a).select(
            *keys, *[F.col(m).alias(f"{m}_a") for m in tracked])
        b = res.filter(F.col("profile_run_id") == run_b).select(
            *keys, *[F.col(m).alias(f"{m}_b") for m in tracked])
        j = a.join(b, keys, "full_outer")
        added = F.col("record_ct_a").isNull() & F.col("record_ct_b").isNotNull()
        dropped = F.col("record_ct_b").isNull() & F.col("record_ct_a").isNotNull()
        changed = None
        for m in tracked:
            ne = ~(F.col(f"{m}_a").eqNullSafe(F.col(f"{m}_b")))
            changed = ne if changed is None else (changed | ne)
        change = (F.when(added, F.lit("added"))
                   .when(dropped, F.lit("dropped"))
                   .when(changed, F.lit("changed")))
        out_cols = [*keys, change.alias("change")]
        for m in tracked:
            out_cols.extend([F.col(f"{m}_a"), F.col(f"{m}_b")])
        return (j.select(*out_cols).filter(F.col("change").isNotNull())
                .orderBy("table_name", "column_name"))

    def profile_anomalies(self, profile_run_id: str,
                          table_name: str | None = None) -> DataFrame:
        """get_profile_screen.sql analogue — the hygiene-screen findings
        recorded with the run (the modern anomaly screen supersedes the
        legacy inline screen SQL; same consumer contract: table, column,
        screening test, detail)."""
        out = self.read("profile_anomaly_results").filter(
            F.col("profile_run_id") == profile_run_id)
        if table_name:
            out = out.filter(F.lower("table_name") == table_name.lower())
        return (out.select("table_name", "column_name", "anomaly_type",
                           "detail", "likelihood")
                .orderBy("anomaly_type", "table_name", "column_name"))

    def list_test_generation(self, test_suite_key: str) -> DataFrame:
        """get_test_generation_list.sql — one row per generation run."""
        return (self.read("test_definitions")
                .filter(F.col("test_suite_key") == test_suite_key)
                .groupBy("test_suite_key", "last_auto_gen_date",
                         "profiling_as_of_date")
                .agg(F.countDistinct("table_name").alias("tables"),
                     F.countDistinct(
                         F.concat_ws(".", "table_name", "column_name"))
                     .alias("columns"),
                     F.count(F.lit(1)).alias("tests"))
                .orderBy(F.col("last_auto_gen_date").desc()))

    def test_info(self, test_suite_key: str) -> DataFrame:
        """get_test_info.sql — current tests for a suite, latest generation
        only, joined to test-type metadata."""
        from dataops_testgen_spark.execution.test_types import TEST_TYPES

        defs = self.read("test_definitions")
        latest = (defs.filter(F.col("test_suite_key") == test_suite_key)
                  .agg(F.max("last_auto_gen_date")).first()[0])
        cur = defs.filter(
            (F.col("test_suite_key") == test_suite_key)
            & (F.col("last_auto_gen_date") == F.lit(latest)))
        meta = self.spark.createDataFrame(
            [(m.test_type, m.description, m.dq_dimension, m.measure_uom)
             for m in TEST_TYPES.values()],
            "test_type string, test_description string, dq_dimension "
            "string, measure_uom string")
        return (cur.join(F.broadcast(meta), "test_type", "left")
                .select(F.lit(self.project_key).alias("project_key"),
                        "test_suite_key", "test_type", "test_description",
                        "dq_dimension", "measure_uom", "table_name",
                        "column_name",
                        # generated thresholds live in params
                        F.lit(None).cast("string").alias("threshold_value"),
                        "last_auto_gen_date")
                .orderBy("table_name", "column_name", "test_type"))

    def list_test_runs(self, test_suite_key: str) -> DataFrame:
        """get_test_run_list.sql — run header + result/fail counts."""
        runs, res = self.read("test_runs"), self.read("test_results")
        counts = res.groupBy("test_run_id").agg(
            F.countDistinct(F.lower("table_name")).alias("table_ct"),
            F.count(F.lit(1)).alias("result_ct"),
            F.sum(F.when(F.col("result_code") == 0, 1)).alias("fail_ct"))
        return (runs.filter(F.col("test_suite_key") == test_suite_key)
                .join(counts, "test_run_id")
                .select("test_suite_key",
                        F.col("test_starttime").alias("test_time"),
                        "status", "test_run_id", "table_ct", "result_ct",
                        "fail_ct")
                .orderBy(F.col("test_time").desc()))

    def test_results_for_run(self, test_run_id: str,
                             fails_only: bool = False) -> DataFrame:
        """get_test_results_for_run_cli.sql — per-test outcome rows."""
        from dataops_testgen_spark.execution.test_types import TEST_TYPES

        out = self.read("test_results").filter(
            F.col("test_run_id") == test_run_id)
        if fails_only:
            out = out.filter(F.col("result_code") == 0)
        uom = self.spark.createDataFrame(
            [(m.test_type, m.measure_uom) for m in TEST_TYPES.values()],
            "test_type string, measure_uom string")
        return (out.join(F.broadcast(uom), "test_type", "left")
                .select("test_suite_key", "table_name", "column_name",
                        "test_type",
                        F.col("result_status").alias("result"),
                        F.coalesce("result_message", F.lit(""))
                        .alias("result_message"),
                        "result_measure", "measure_uom")
                .orderBy("table_name", "column_name", "test_type"))

    def list_test_suites(self) -> DataFrame:
        """get_test_suite_list.sql — suites with latest-generation test
        counts."""
        counts = (self.read("test_definitions")
                  .groupBy("test_suite_key", "last_auto_gen_date")
                  .agg(F.count(F.lit(1)).alias("tests")))
        latest = (counts.groupBy("test_suite_key")
                  .agg(F.max_by("tests", "last_auto_gen_date")
                       .alias("tests")))
        return (self.read("test_suites")
                .join(latest, "test_suite_key", "left")
                .select("test_suite_id", "project_key", "test_suite_key",
                        F.coalesce("tests", F.lit(0)).alias("tests"))
                .orderBy("test_suite_key"))

    def list_table_groups(self) -> DataFrame:
        """get_table_group_list.sql — distinct table groups seen in
        profiling runs."""
        return (self.read("profiling_runs")
                .groupBy("table_groups_id", "project_key")
                .agg(F.count(F.lit(1)).alias("profile_runs"),
                     F.max("start_time").alias("last_run"))
                .orderBy("table_groups_id"))
