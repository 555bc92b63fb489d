"""The session-scoped memo (``session.memo``): concurrent nested misses, and
memoized driver seats surviving a session restart."""

import json
import os
import subprocess
import sys
import textwrap
import threading
import types
from collections import Counter
from concurrent.futures import ThreadPoolExecutor

from dataops_testgen_spark.session import memo, memo_stats

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _fake_session(app_id):
    return types.SimpleNamespace(
        sparkContext=types.SimpleNamespace(applicationId=app_id))


def test_memo_nested_concurrent_misses_and_app_change():
    """Nested the way _inferred -> _profiled -> _load are: each top-level
    build fans out to a thread pool whose builders call memo again. The
    barrier only releases if all top-level builds run at once, so a build
    held under the memo's lock would break it."""
    spark = _fake_session("memo-test-app-1")
    builds = Counter()
    count_lock = threading.Lock()
    groups = [("a", "b", "c"), ("d", "e", "f"), ("g", "h", "i"),
              ("j", "k", "l")]
    all_in_flight = threading.Barrier(len(groups))

    def counted(key, value):
        with count_lock:
            builds[key] += 1
        return value

    def load(t):
        return memo(spark, ("t_load", t),
                    lambda: counted(("load", t), object()))

    def profiled(t):
        return memo(spark, ("t_profiled", t),
                    lambda: counted(("profiled", t), (load(t), object())))

    def inferred(tables):
        def build():
            all_in_flight.wait(timeout=30)
            with ThreadPoolExecutor(len(tables)) as pool:
                profs = list(pool.map(profiled, tables))
            return counted(("inferred", tables), (profs, object()))
        return memo(spark, ("t_inferred", tables), build)

    with ThreadPoolExecutor(len(groups)) as pool:
        futs = [pool.submit(inferred, g) for g in groups]
        results = [f.result(timeout=60) for f in futs]

    # repeats return the identical objects, at every nesting level
    for g, result in zip(groups, results):
        assert inferred(g) is result
        for t, prof in zip(g, result[0]):
            assert profiled(t) is prof
            assert load(t) is prof[0]
    # every key built exactly once: 4 inferences, 12 profiles, 12 loads
    assert len(builds) == 28 and set(builds.values()) == {1}
    stats = memo_stats(spark)
    assert stats["t_inferred"] == {"hits": 4, "misses": 4, "entries": 4}
    assert stats["t_profiled"] == {"hits": 12, "misses": 12, "entries": 12}
    assert stats["t_load"] == {"hits": 12, "misses": 12, "entries": 12}

    # a new applicationId: the first miss drops the old app's entries and
    # counters, so only the new app's entry remains
    spark2 = _fake_session("memo-test-app-2")
    fresh = memo(spark2, ("t_load", "a"), object)
    assert memo_stats(spark) == {}
    assert memo_stats(spark2) == {
        "t_load": {"hits": 0, "misses": 1, "entries": 1}}
    assert memo(spark2, ("t_load", "a"), object) is fresh


def test_memo_racing_builders_return_first_insert():
    """Two threads missing one key both build (outside the lock); the first
    insert wins and both callers get that one object."""
    spark = _fake_session("memo-test-race")
    both_building = threading.Barrier(2)

    def build():
        both_building.wait(timeout=30)
        return object()

    with ThreadPoolExecutor(2) as pool:
        got = [f.result(timeout=60) for f in
               [pool.submit(memo, spark, ("t_race",), build)
                for _ in range(2)]]
    assert got[0] is got[1]
    assert memo(spark, ("t_race",), object) is got[0]
    assert memo_stats(spark)["t_race"] == {"hits": 1, "misses": 2,
                                            "entries": 1}


def test_memo_counts_every_concurrent_hit():
    """More threads than cores hammer one key with a tiny switch interval;
    a lost counter update would leave hits short."""
    spark = _fake_session("memo-test-hits")
    memo(spark, ("t_hits",), object)
    threads, per_thread = 16, 2000
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(threads) as pool:
            futs = [pool.submit(lambda: [memo(spark, ("t_hits",), object)
                                         for _ in range(per_thread)])
                    for _ in range(threads)]
            for f in futs:
                f.result(timeout=60)
    finally:
        sys.setswitchinterval(interval)
    assert memo_stats(spark)["t_hits"] == {
        "hits": threads * per_thread, "misses": 1, "entries": 1}


# Runs memoized seats, restarts the session, reruns them. Its own process,
# so the suite's session-scoped spark fixture is never stopped.
_RESTART_SCRIPT = textwrap.dedent("""
    import json, sys
    import __spark_entry__ as E
    from dataops_testgen_spark.session import get_spark

    SEATS = ("minhash_lsh_documents", "profile_lineitem_numeric",
             "score_breakdown_column_co_li")

    def run(spark):
        q = E.queries()
        return {n: q[n](spark, sys.argv[1]).count() for n in SEATS}

    spark = get_spark("memo_restart")
    first = run(spark)
    again = run(spark)  # memo hits
    app1 = spark.sparkContext.applicationId
    spark.stop()
    spark = get_spark("memo_restart")
    second = run(spark)
    from dataops_testgen_spark.session import memo_stats
    print(json.dumps({
        "first": first, "again": again, "second": second,
        "apps": [app1, spark.sparkContext.applicationId],
        "stats": memo_stats(spark)}))
    spark.stop()
""")


def test_memoized_seats_survive_session_restart(sf_dir):
    # a small JVM: it runs beside the suite's own session(s)
    env = dict(os.environ, SPARK_GRAFT_CPUS="2", SPARK_DRIVER_MEMORY="1g")
    proc = subprocess.run(
        [sys.executable, "-c", _RESTART_SCRIPT, sf_dir], cwd=REPO, env=env,
        capture_output=True, text=True, timeout=900)
    assert proc.returncode == 0, proc.stderr[-5000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert out["apps"][0] != out["apps"][1]
    assert out["first"] == out["again"] == out["second"]
    assert all(n > 0 for n in out["first"].values())
    # the new session rebuilt every memoized layer; its counters started
    # afresh (the first session's miss + rerun hit are gone)
    stats = out["stats"]
    for ns in ("load", "profiled", "inferred", "minhash_pairs",
               "score_results", "screened", "profile_exprs", "cascade"):
        assert stats[ns]["misses"] >= 1, ns
    assert stats["minhash_pairs"] == {"hits": 0, "misses": 1, "entries": 1}
    assert stats["score_results"] == {"hits": 0, "misses": 1, "entries": 1}


def test_session_turns_console_progress_off(spark):
    # the progress bar would share stderr with bench.py's report lines
    assert spark.sparkContext.getConf().get(
        "spark.ui.showConsoleProgress") == "false"


def test_local_frame_reads_naive_timestamps_as_local_time(monkeypatch):
    # collect() hands back naive local wall times; the frame must hold the
    # same instant createDataFrame(list) would, on any host timezone
    import datetime as dt
    import time

    from pyspark.sql import types as T

    from dataops_testgen_spark.session import local_frame

    class Capture:
        def createDataFrame(self, rows, schema):
            return rows

    schema = T.StructType([T.StructField("t", T.TimestampType()),
                           T.StructField("n", T.TimestampNTZType())])
    wall = dt.datetime(2024, 1, 2, 3, 4, 5)
    monkeypatch.setenv("TZ", "America/New_York")
    time.tzset()
    try:
        table = local_frame(Capture(), [(wall, wall), (None, None)], schema)
    finally:
        monkeypatch.undo()
        time.tzset()
    assert table.column("t").to_pylist() == [
        dt.datetime(2024, 1, 2, 8, 4, 5, tzinfo=dt.timezone.utc), None]
    assert table.column("n").to_pylist() == [wall, None]
