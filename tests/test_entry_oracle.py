"""Mirror of the driver's t2 gate: every queries() entry must hash-match its
oracle_sql() on the same parquet tables (run here at sf0.001 for speed; the
driver uses sf0.01)."""

import importlib
import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
entry_mod = importlib.import_module("__spark_entry__")

from conftest import SF_DIR, assert_matches_oracle

QUERY_NAMES = sorted(entry_mod.queries().keys())


def test_all_queries_have_callables():
    qs = entry_mod.queries()
    assert qs, "queries() must not be empty"
    for name, fn in qs.items():
        assert callable(fn), name


@pytest.mark.parametrize("name", QUERY_NAMES)
def test_query_matches_oracle(spark, duck, sf_dir, name):
    sdf = entry_mod.queries()[name](spark, sf_dir)
    assert_matches_oracle(sdf, duck, entry_mod.oracle_sql()[name])


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    assert df.count() > 0
    assert len(df.schema.fields) > 10


def test_registry_declares_each_seat_once():
    """SEATS holds one (name, builder, oracle) per seat, and WINDOW is the
    driver's first-50 oracle window, in queries() order."""
    names = [name for name, _, _ in entry_mod.SEATS]
    assert len(names) == len(set(names))
    window = entry_mod.WINDOW
    assert len(window) == len(set(window)) == 50
    assert set(window) <= set(names)
    assert list(entry_mod.queries())[:50] == window
    for name, _, sql in entry_mod.SEATS:
        assert isinstance(sql, str) and sql.strip(), name


def test_pq_topk_oracle_is_deterministic():
    """Neighbours 143 and 447 of query 4 carry the same PQ code tuple, so
    their scores tie exactly and rank by neighbor_id. The oracle must give
    that one answer on every run, however its 8 threads split the sums."""
    con = duckdb.connect()
    con.execute("SET threads=8")
    con.execute("CREATE VIEW embeddings AS SELECT * FROM "
                f"read_parquet('{SF_DIR}/embeddings.parquet')")
    sql = entry_mod.oracle_sql()["pq_topk_embeddings"]
    results = {tuple(sorted(con.execute(sql).fetchall())) for _ in range(100)}
    assert len(results) == 1


def test_ivfadc_oracle_is_deterministic():
    """The IVFADC oracle (the ann_index_probe, ivfadc_topk and
    rerank_ivfadc seats) sums centroid cosines, codeword norms and ADC dots
    in dimension or subspace order, so its scores are the same to the last
    bit on every run. A rounded score is not enough to check that: at
    sf0.01 two neighbours of query 6 tie at 5 dp and swapped ranks in about
    1 run in 40 while the sums were split across threads."""
    con = duckdb.connect()
    con.execute("SET threads=8")
    con.execute("CREATE VIEW embeddings AS SELECT * FROM "
                f"read_parquet('{SF_DIR}/embeddings.parquet')")
    sql = entry_mod._sql_ivfadc("b.vec_id % 2 = 0")
    raw = sql.replace("ROUND(est_cos, 5) AS", "est_cos AS")
    assert raw != sql
    results = {tuple(sorted(con.execute(raw).fetchall())) for _ in range(20)}
    assert len(results) == 1


def test_no_hugeint_on_any_oracle_surface(duck):
    """r14 root cause of the 3-round-red group_dependence seat: DuckDB
    types SUM(BIGINT) [incl. windowed] as HUGEINT, and HUGEINT converts
    to float64 on pandas/arrow fetch (3 -> 3.0) — values compare equal
    (rows_match true) but a dtype/repr-aware hash differs from Spark's
    int64. Guard: no declared oracle may carry HUGEINT on its output
    surface; cast to BIGINT (or DOUBLE, matching the Spark side) instead."""
    offenders = {}
    for name, sql in entry_mod.oracle_sql().items():
        rel = duck.sql(sql)
        hug = {c: str(t) for c, t in zip(rel.columns, rel.types)
               if str(t) in ("HUGEINT", "UHUGEINT")}
        if hug:
            offenders[name] = hug
    assert not offenders, f"HUGEINT on oracle output surface: {offenders}"


def test_retired_queries_stay_out_of_registry():
    """ngram_jaccard_documents was retired from the timed registry in r9
    (r8 verdict #7): the brute-force baseline stays available as a
    function + unit oracle, but must not burn bench time or a window
    seat."""
    qs = entry_mod.queries()
    assert "ngram_jaccard_documents" not in qs
    assert "ngram_jaccard_documents" not in entry_mod.oracle_sql()
