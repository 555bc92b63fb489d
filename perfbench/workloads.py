"""The benchmark's workloads: set-up, one timed cycle, and output checks.

Each workload rebuilds its inputs from the seed in ``setup`` and seeds its
store or index there. ``reset`` restores that seeded state before every
cycle (outside the timed region), so every cycle does the same work. The
checks read what a cycle wrote with pyarrow and DuckDB, never Spark, so
they submit no Spark jobs and stay outside the timed region; they are
pure functions of the data so the self-tests can feed them corrupted
outputs.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import glob
import hashlib
import json
import os
import random
import shutil

import pyarrow.parquet as pq

import gen

RUN_DATE = "2026-08-01"
SUITE = "bench_suite"
MON_SUITE = SUITE + "_monitors"
MONITOR_HISTORY = 24            # prior monitor runs; the forecaster needs 20
INCREMENT_DOCS = 4000           # corpus documents curated per cycle
HISTORY_DOCS = 1000             # documents indexed before the first cycle


def dir_state(root: str) -> dict[str, int]:
    """relative path -> size of every file under ``root``."""
    out = {}
    for d, _sub, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            out[os.path.relpath(p, root)] = os.path.getsize(p)
    return out


def written(before: dict[str, int], after: dict[str, int]) -> tuple[int, int]:
    """(files, bytes) new or changed between two ``dir_state`` listings."""
    new = [p for p, n in after.items() if before.get(p) != n]
    return len(new), sum(after[p] for p in new)


def _copy(src: str, dst: str) -> None:
    shutil.rmtree(dst, ignore_errors=True)
    shutil.copytree(src, dst)


def _partitions(table_dir: str, key: str) -> set[str]:
    return {os.path.basename(p) for p in
            glob.glob(os.path.join(table_dir, f"{key}=*"))}


def read_rows(path: str) -> list[dict]:
    return pq.read_table(path).to_pylist() if os.path.exists(path) else []


def digest(rows: list[dict]) -> str:
    """Order-free digest of result rows without run ids, test ids and
    timestamps; floats rounded to 6 places."""
    def canon(r):
        return {k: (round(v, 6) if isinstance(v, float) else v)
                for k, v in sorted(r.items())
                if not (k.endswith("_id") or "time" in k or "date" in k)}
    lines = sorted(json.dumps(canon(r), default=str) for r in rows)
    return hashlib.md5("\n".join(lines).encode()).hexdigest()


def _cli(argv: list[str]) -> None:
    from dataops_testgen_spark.__main__ import main

    with open(os.devnull, "w") as null, contextlib.redirect_stdout(null):
        code = main(argv)
    if code != 0:
        raise RuntimeError(f"{argv[0]} exited {code}")


def seed_monitor_history(spark, store_root: str, data_dir: str,
                         tables, seed: int) -> None:
    """``MONITOR_HISTORY`` prior monitor runs for ``tables`` in two public
    ``RunStore.append`` writes. Volumes sit within 2% of the current row
    counts and the last freshness fingerprint equals the current one."""
    from pyspark.sql import functions as F

    from dataops_testgen_spark.execution.query_tests import table_fingerprint
    from dataops_testgen_spark.io.loaders import load_table
    from dataops_testgen_spark.store import RunStore

    rng = random.Random(seed * 7 + 1)
    current = {}
    for name in tables:
        df = load_table(spark, data_dir, name)
        fp = table_fingerprint(
            df, [F.count(F.lit(1))]
            + [F.max(c).cast("string") for c in df.columns[:4]])
        current[name] = (df.count(), fp)
    runs, results = [], []
    first = dt.datetime(2026, 6, 1, 2, 0)
    for i in range(MONITOR_HISTORY):
        run_id = f"seed-{i:03d}"
        stamp = first + dt.timedelta(days=i)
        runs.append((run_id, "DEFAULT", MON_SUITE, stamp.isoformat(),
                     stamp.date().isoformat(), "Complete"))
        for name in tables:
            n, fp = current[name]
            vol = float(round(n * (1 + rng.uniform(-0.02, 0.02))))
            results.append((f"mon_volume_{name}", "Volume_Trend", name, None,
                            "Log", None, None, vol, None, run_id, MON_SUITE))
            results.append((f"mon_freshness_{name}", "Table_Freshness", name,
                            None, "Log", None, fp, 0.0 if i else None, None,
                            run_id, MON_SUITE))
    store = RunStore(spark, store_root)
    store.append("test_runs", spark.createDataFrame(
        runs, "test_run_id string, project_key string, test_suite_key "
        "string, test_starttime string, run_date string, status string"))
    store.append("test_results", spark.createDataFrame(
        results, "test_id string, test_type string, table_name string, "
        "column_name string, result_status string, result_code int, "
        "result_message string, result_measure double, threshold_value "
        "string, test_run_id string, test_suite_key string"),
        partition_by="test_run_id")


def check_monitors(rows: list[dict], tables) -> list[str]:
    """Problems with one monitor cycle's results (empty when correct)."""
    bad = []
    for name in tables:
        mine = [r for r in rows if r["table_name"] == name]
        if len(mine) != 2:
            bad.append(f"{name}: {len(mine)} monitor results, expected 2")
            continue
        vol = [r for r in mine if r["test_type"] == "Volume_Trend"]
        fresh = [r for r in mine if r["test_type"] == "Table_Freshness"]
        if not vol or not vol[0]["threshold_value"]:
            bad.append(f"{name}: Volume_Trend without a forecast threshold")
        if not fresh or fresh[0]["result_measure"] != 0.0:
            bad.append(f"{name}: freshness does not read 'No change'")
    return bad


class Workload:
    """Shared plumbing: a work directory, seeded inputs and state dirs."""

    name = ""
    state_dirs: tuple[str, ...] = ()

    def __init__(self, spark, work: str, seed: int):
        self.spark, self.work, self.seed = spark, work, seed
        # replaced by the tracer's span factory in traced runs
        self.span = lambda name, **attrs: contextlib.nullcontext()
        self.data = os.path.join(work, "data")
        self.input_bytes = 0
        self.facts: dict = {}

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)

    def snapshot(self, tag: str) -> None:
        for d in self.state_dirs:
            _copy(self.path(d), self.path(f"{d}.{tag}"))

    def restore(self, tag: str) -> None:
        for d in self.state_dirs:
            _copy(self.path(f"{d}.{tag}"), self.path(d))
        self._before = {d: dir_state(self.path(d)) for d in self.state_dirs}

    def written(self) -> dict[str, tuple[int, int]]:
        """(files, bytes) written per state dir since the last reset."""
        return {d: written(self._before[d], dir_state(self.path(d)))
                for d in self.state_dirs}


def check_quality(profile_rows: list[dict], n_columns: int,
                  anomalies: list[dict], results: list[dict],
                  reference: str | None) -> tuple[list[str], str]:
    """Problems with one quality cycle and its anomaly+result digest."""
    bad = []
    if len(profile_rows) != n_columns:
        bad.append(f"{len(profile_rows)} profile rows, expected {n_columns}")
    if not results:
        bad.append("no test results")
    d = digest([{"kind": "anomaly", **r} for r in anomalies]
               + [{"kind": "result", **r} for r in results])
    if reference is not None and d != reference:
        bad.append("anomaly/test-result digest differs from cycle 1")
    return bad, d


class QualityCycle(Workload):
    """``run-profile``, ``run-tests`` and ``run-monitors``, all ``--store``.
    The first cycle generates and stores the suite; later cycles start from
    the store as the first cycle left it and execute the stored suite."""

    name = "quality_cycle"
    tables = gen.STAR_TABLES
    state_dirs = ("store",)

    def setup(self) -> None:
        shutil.rmtree(self.work, ignore_errors=True)
        sizes = gen.write_star_group(self.data, self.seed)
        self.input_bytes = sum(sizes.values())
        seed_monitor_history(self.spark, self.path("store"), self.data,
                             self.tables, self.seed)
        self.snapshot("seed")

    def _args(self, cmd: str) -> list[str]:
        return [cmd, "--data-dir", self.data, "--store", self.path("store"),
                "--run-date", RUN_DATE, "--test-suite", SUITE]

    def new_partitions(self, table: str, key: str) -> list[str]:
        d = os.path.join(self.path("store"), table)
        before = {p.split(os.sep)[1] for p in self._before["store"]
                  if p.startswith(table + os.sep)}
        return [os.path.join(d, p) for p in sorted(_partitions(d, key) - before)]

    def cli(self, cmd: str) -> None:
        with self.span(f"cli.{cmd}"):
            _cli(self._args(cmd))

    def reset(self, first: bool) -> None:
        # no warm snapshot when the first cycle raised: start from the seed
        warm = not first and os.path.isdir(self.path("store.warm"))
        self.restore("warm" if warm else "seed")

    def cycle(self) -> None:
        self.cli("run-profile")
        self.cli("run-tests")
        self.cli("run-monitors")

    def check(self, first: bool) -> list[str]:
        if first:
            self.snapshot("warm")
        prof = self.new_partitions("profile_results", "profile_run_id")
        anom = self.new_partitions("profile_anomaly_results",
                                   "profile_run_id")
        runs = self.new_partitions("test_results", "test_run_id")
        if len(prof) != 1 or len(anom) != 1 or len(runs) != 2:
            return [f"new runs: {len(prof)} profile, {len(anom)} anomaly, "
                    f"{len(runs)} test; expected 1, 1 and 2"]
        rows = [r for p in runs for r in read_rows(p)]
        res = [r for r in rows if r["test_suite_key"] == SUITE]
        mon = [r for r in rows if r["test_suite_key"] == MON_SUITE]
        n_cols = sum(len(gen.STAR_SCHEMAS[t]) for t in self.tables)
        anomalies = read_rows(anom[0])
        bad, d = check_quality(read_rows(prof[0]), n_cols, anomalies, res,
                               self.facts.get("digest"))
        bad += check_monitors(mon, self.tables)
        self.facts.setdefault("digest", d)
        self.facts["anomalies"] = len(anomalies)
        if first:
            bad += oracle_anomalies(self.data, self.tables, anomalies)
        return bad


def oracle_columns(table: str) -> list[tuple[str, str, str, bool]]:
    """(name, general type, Spark type, is_decimal) per column, the shape
    the DuckDB oracles take."""
    kinds = {"int64": ("N", "bigint", False), "int32": ("N", "int", False),
             "double": ("N", "double", True),
             "string": ("A", "string", False),
             "timestamp[us]": ("D", "timestamp_ntz", False)}
    return [(f.name, *kinds[str(f.type)]) for f in gen.STAR_SCHEMAS[table]]


def oracle_anomalies(data_dir: str, tables, anomalies: list[dict]) -> list[str]:
    """Compare the stored anomaly keys with the DuckDB screening oracle."""
    import duckdb

    from dataops_testgen_spark.oracles import anomaly_screen_multi_sql

    specs = [(t, oracle_columns(t)) for t in tables]
    con = duckdb.connect()
    try:
        for t in tables:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet("
                        f"'{os.path.join(data_dir, t)}.parquet')")
        sql = anomaly_screen_multi_sql(specs, RUN_DATE, corr_tables=specs)
        want = {tuple(r[:3]) for r in con.execute(
            f"SELECT table_name, column_name, anomaly_type FROM ({sql})"
        ).fetchall()}
    finally:
        con.close()
    got = {(r["table_name"], r["column_name"], r["anomaly_type"])
           for r in anomalies}
    if got != want:
        return [f"anomalies differ from the DuckDB oracle: "
                f"{len(got - want)} extra, {len(want - got)} missing"]
    return []


def check_corpus(decisions: list[dict], n_docs: int, keep: set,
                 hits: list[dict], queries, k: int) -> list[str]:
    """Problems with one corpus cycle (empty when correct)."""
    bad = []
    ids = [r["id"] for r in decisions]
    if len(ids) != n_docs or len(set(ids)) != n_docs:
        bad.append(f"{len(ids)} decisions ({len(set(ids))} distinct) for "
                   f"{n_docs} documents")
    kept = {r["id"] for r in decisions if r["keep"]}
    if kept != keep:
        bad.append(f"keep set differs: {len(kept)} kept, expected "
                   f"{len(keep)}")
    for qid, _text, planted in queries:
        mine = sorted((r for r in hits if r["query_id"] == qid),
                      key=lambda r: r["rnk"])
        if len(mine) != k or mine[0]["id"] != planted:
            bad.append(f"query {qid}: {len(mine)} hits, first "
                       f"{mine[0]['id'] if mine else None}, planted {planted}")
    return bad


class CorpusIngest(Workload):
    """Curate a seeded increment, append its keepers to the lexical index
    and run a fixed query batch over the whole index."""

    name = "corpus_ingest"
    state_dirs = ("index", "decisions")
    K = 10

    def setup(self) -> None:
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(self.data)
        hist = gen.make_corpus(self.seed * 3 + 1, HISTORY_DOCS)
        self.inc = gen.make_corpus(self.seed * 3 + 2, INCREMENT_DOCS,
                                   first_id=10**7,
                                   n_queries=20)
        gen.write_docs(hist["docs"], os.path.join(self.data, "history.parquet"))
        self.input_bytes = gen.write_docs(
            self.inc["docs"], os.path.join(self.data, "increment.parquet"))
        gen.write_docs(gen.make_train(self.seed * 3 + 3),
                       os.path.join(self.data, "train.parquet"))
        from dataops_testgen_spark.io.loaders import load_table
        from dataops_testgen_spark.pipeline.retrieval import (
            lexical_index_append)

        lexical_index_append(load_table(self.spark, self.data, "history"),
                             self.path("index"))
        os.makedirs(self.path("decisions"))
        self.snapshot("seed")

    def reset(self, first: bool) -> None:
        self.restore("seed")

    def cycle(self) -> None:
        from pyspark.sql import functions as F

        from dataops_testgen_spark.io.loaders import load_table
        from dataops_testgen_spark.pipeline.curation import curation_gate
        from dataops_testgen_spark.pipeline.retrieval import (
            bm25_index_topk, lexical_index_append)

        span = self.span
        inc = load_table(self.spark, self.data, "increment")
        out = os.path.join(self.path("decisions"), "run")
        with span("pipeline.curate"):
            curation_gate(inc, load_table(self.spark, self.data, "train"),
                          ["en"]).write.mode("overwrite").parquet(out)
        with span("pipeline.index"):
            keep = (self.spark.read.parquet(out).filter("keep")
                    .select(F.col("id").alias("doc_id")))
            lexical_index_append(inc.join(keep, "doc_id"), self.path("index"))
        with span("pipeline.search"):
            queries = self.spark.createDataFrame(
                [(q, t) for q, t, _ in self.inc["queries"]],
                "query_id int, query_text string")
            self.hits = [r.asDict() for r in bm25_index_topk(
                self.spark, queries, self.path("index"), k=self.K).collect()]

    def check(self, first: bool) -> list[str]:
        decisions = read_rows(os.path.join(self.path("decisions"), "run"))
        self.facts["keep_share"] = (sum(r["keep"] for r in decisions)
                                    / max(len(decisions), 1))
        self.facts["docs"] = len(decisions)
        return check_corpus(decisions, len(self.inc["docs"]),
                            self.inc["keep"], self.hits,
                            self.inc["queries"], self.K)


WORKLOADS = {w.name: w for w in (QualityCycle, CorpusIngest)}
