"""Driver-style t2 simulation: run every __spark_entry__ query at sf0.01 and
hash-compare against its DuckDB oracle exactly like the grading driver
(columns sorted by name, rows sorted, floats rounded to 1e-6).

Exit code 0 = all match; 1 = any mismatch.
"""

from __future__ import annotations

import hashlib
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _hash(rows: list[tuple]) -> str:
    lines = sorted(
        "|".join(repr(round(v, 6)) if isinstance(v, float) else repr(v) for v in r)
        for r in rows
    )
    return hashlib.md5("\n".join(lines).encode()).hexdigest()


def main() -> int:
    import duckdb

    import __spark_entry__ as entry_mod
    from dataops_testgen_spark.session import get_spark

    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    spark = get_spark("driver-sim")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')")

    only = set(sys.argv[1:])        # optional query-name filter: a scoped
    # re-verify after touching one query, instead of the full 105
    qs, oracles = entry_mod.queries(), entry_mod.oracle_sql()
    unknown = only - set(qs)
    if unknown:
        print(f"unknown queries: {sorted(unknown)}")
        return 1

    if not only:
        df = entry_mod.entry(spark)
        n = df.count()
        print(f"entry(): {n} rows, {len(df.columns)} cols")

    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf)
            cols = sorted(sdf.columns)
            s_rows = [tuple(r[c] for c in cols) for r in sdf.collect()]
            res = con.execute(oracles[name])
            dnames = [d[0] for d in res.description]
            if sorted(dnames) != cols:
                print(f"{name}: SCHEMA MISMATCH spark={cols} duck={sorted(dnames)}")
                failures += 1
                continue
            idx = [dnames.index(c) for c in cols]
            d_rows = [tuple(r[i] for i in idx) for r in res.fetchall()]
            sh, dh = _hash(s_rows), _hash(d_rows)
            ok = sh == dh and len(s_rows) == len(d_rows)
            print(f"{name}: rows={len(s_rows)}/{len(d_rows)} "
                  f"hash={'MATCH' if sh == dh else 'MISMATCH'}")
            failures += 0 if ok else 1
        except Exception as exc:  # noqa: BLE001 — driver records per-query errors
            print(f"{name}: ERROR {type(exc).__name__}: {exc}")
            failures += 1
    print("RESULT:", "ALL MATCH" if failures == 0 else f"{failures} FAILURES")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
