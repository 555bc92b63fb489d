"""Distributed covariance + PCA whitening (similarity.embedding_covariance
/ fit_whitening / whiten) vs plain numpy."""

import numpy as np

from dataops_testgen_spark.pipeline import similarity as SIM


def _df_from(spark, V):
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(V)]
    return spark.createDataFrame(rows, "vec_id int, embedding array<double>")


def test_covariance_matches_numpy(spark):
    rng = np.random.default_rng(13)
    V = rng.normal(size=(200, 12)) @ rng.normal(size=(12, 12))
    df = _df_from(spark, V)
    got = {(r["i"], r["j"]): r["cov"]
           for r in SIM.embedding_covariance(df).collect()}
    C = ((V - V.mean(0)).T @ (V - V.mean(0))) / len(V)
    assert len(got) == 12 * 13 // 2
    assert max(abs(got[(i, j)] - C[i, j]) for (i, j) in got) < 1e-12


def test_covariance_invariant_to_partitioning(spark):
    rng = np.random.default_rng(17)
    V = rng.normal(size=(150, 8))
    a = sorted(map(tuple, SIM.embedding_covariance(
        _df_from(spark, V).coalesce(1)).collect()))
    b = sorted(map(tuple, SIM.embedding_covariance(
        _df_from(spark, V).repartition(7)).collect()))
    for ra, rb in zip(a, b):
        assert ra[:2] == rb[:2]
        assert abs(ra[2] - rb[2]) < 1e-13  # float sum order only


def test_covariance_drops_invalid_vectors(spark):
    rng = np.random.default_rng(19)
    V = rng.normal(size=(50, 4))
    rows = ([(i, [float(x) for x in v]) for i, v in enumerate(V)]
            + [(100, None), (101, [1.0, None, 0.0, 0.0])])
    df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    got = {(r["i"], r["j"]): r["cov"]
           for r in SIM.embedding_covariance(df).collect()}
    C = ((V - V.mean(0)).T @ (V - V.mean(0))) / len(V)
    assert max(abs(got[(i, j)] - C[i, j]) for (i, j) in got) < 1e-12


def test_covariance_stable_under_large_mean(spark):
    """The centered two-pass formula must survive |mean| >> std — the
    one-pass E[xy]-E[x]E[y] spelling cancels catastrophically here."""
    rng = np.random.default_rng(31)
    V = rng.normal(size=(300, 6)) + 1e6
    df = _df_from(spark, V)
    got = {(r["i"], r["j"]): r["cov"]
           for r in SIM.embedding_covariance(df).collect()}
    C = ((V - V.mean(0)).T @ (V - V.mean(0))) / len(V)
    assert max(abs(got[(i, j)] - C[i, j]) for (i, j) in got) < 1e-9


def test_covariance_oracle_parity_with_nulls_and_dup_ids(spark, tmp_path):
    """The DuckDB oracle must mirror the Spark clean filter (NULL vector
    / NULL element dropped) and be row-keyed (duplicate vec_ids must not
    cross-multiply in its self-join)."""
    import importlib
    import os
    import sys as _sys

    import duckdb

    # this checkout's registry, not whichever one is first on sys.path
    _sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    em = importlib.import_module("__spark_entry__")
    rng = np.random.default_rng(37)
    V = rng.normal(size=(40, 4))
    rows = ([(i % 20, [float(x) for x in v]) for i, v in enumerate(V)]
            + [(100, None), (101, [1.0, None, 0.0, 0.0])])
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    pq = str(tmp_path / "emb_dirty")
    df.write.parquet(pq)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW embeddings AS SELECT * "
                f"FROM read_parquet('{pq}/*.parquet')")
    d_rows = {(r[0], r[1]): r[2]
              for r in con.execute(em._SQL_EMB_COVARIANCE).fetchall()}
    s_rows = {(r["i"], r["j"]): round(r["cov"], 5) + 0.0
              for r in SIM.embedding_covariance(
                  spark.read.parquet(pq)).collect()}
    assert s_rows.keys() == d_rows.keys()
    assert all(s_rows[k] == d_rows[k] for k in s_rows)


def test_whitening_identity_covariance(spark):
    """Whitened data must have (near-)identity covariance, and the
    transform must match the numpy reference path exactly."""
    rng = np.random.default_rng(23)
    A = rng.normal(size=(8, 8))
    V = rng.normal(size=(300, 8)) @ A + rng.normal(size=8) * 3
    df = _df_from(spark, V)
    mu, W = SIM.fit_whitening(df)
    Y = np.array([np.asarray(r["whitened"]) for r in
                  SIM.whiten(df, mu, W).orderBy("id").collect()])
    ref = (V - mu) @ W
    assert np.abs(Y - ref).max() < 1e-12
    Cw = ((Y - Y.mean(0)).T @ (Y - Y.mean(0))) / len(Y)
    assert np.abs(Cw - np.eye(8)).max() < 1e-3  # eps-regularized identity


def test_vector_whiten_cli(spark, tmp_path, capsys):
    from dataops_testgen_spark.__main__ import main

    out = str(tmp_path / "wh")
    model = str(tmp_path / "wh_model")
    assert main(["vector-whiten", "--vectors",
                 "/root/testdata/sf0.001/embeddings.parquet",
                 "--out", out, "--model", model,
                 "--components", "8"]) == 0
    assert "dim 64 -> 8" in capsys.readouterr().out
    got = spark.read.parquet(out)
    assert got.count() == 500
    assert len(got.first()["whitened"]) == 8
    m = spark.read.parquet(model)
    assert m.count() == 64  # row i: mu_i + W[i, :]
    assert len(m.first()["w"]) == 8
    # applying the persisted model reproduces the written output
    import numpy as np
    rows = m.orderBy("row").collect()
    mu = np.array([r["mu"] for r in rows])
    W = np.array([list(r["w"]) for r in rows])
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    again = {r["id"]: list(r["whitened"])
             for r in SIM.whiten(emb, mu, W).collect()}
    first = {r["id"]: list(r["whitened"]) for r in got.collect()}
    assert again == first


def test_whiten_then_index_composition(spark, tmp_path, capsys):
    """The README's composition claim, pinned: vector-whiten output feeds
    vector-index + corpus-search --ann directly (whitened vectors are a
    plain (id, embedding-shaped) parquet), and the searched top-k is a
    valid ranking over the whitened space."""
    from dataops_testgen_spark.__main__ import main

    wh = str(tmp_path / "wh")
    assert main(["vector-whiten", "--vectors",
                 "/root/testdata/sf0.001/embeddings.parquet",
                 "--out", wh, "--components", "16"]) == 0
    capsys.readouterr()
    idx = str(tmp_path / "wh_ann")
    assert main(["vector-index", "--vectors", wh, "--index-dir", idx,
                 "--vec-col", "whitened", "--id-col", "id",
                 "--cells", "4", "-m", "4", "--codewords", "8"]) == 0
    capsys.readouterr()
    assert main(["corpus-search", "--ann", "--index-dir", idx,
                 "--vectors", wh, "--vec-col", "whitened",
                 "--id-col", "id", "--query-id", "7", "-k", "5"]) == 0
    lines = [ln.split() for ln in capsys.readouterr().out.splitlines()
             if ln.strip() and ln.split()[0].isdigit()]
    assert [int(l[0]) for l in lines] == [1, 2, 3, 4, 5]
    assert 7 not in [int(l[2]) for l in lines]  # self excluded


def test_whitening_truncated_components(spark):
    rng = np.random.default_rng(29)
    V = rng.normal(size=(120, 10))
    df = _df_from(spark, V)
    mu, W = SIM.fit_whitening(df, n_components=3)
    assert W.shape == (10, 3)
    out = SIM.whiten(df, mu, W).first()
    assert len(out["whitened"]) == 3
