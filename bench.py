"""Benchmark harness for the __spark_entry__ seats at $SPARK_GRAFT_SF_DIR
(default: the sf0.1 test data, see TESTDATA.md).

  python bench.py
      times every seat once, in sorted name order, prints ONE JSON line and
      mirrors it to BENCH_FULL.json.
  python bench.py --only NAME [NAME ...] [--reps N] [--explain DIR]
      probe mode: times the named seats N times each (default 3), prints
      one JSON line {name: [rep seconds]} and leaves BENCH_FULL.json alone.
      --explain writes explain("formatted") plus the last rep's Catalyst
      phase timings to DIR/<name>.txt.

Both modes run the same warmup first, so timings measure the seats.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def warm(spark, sf_dir: str) -> float | None:
    """Pay the session's one-time costs before any seat is timed, the way a
    JVM benchmark excludes JIT warmup. Returns the seconds the shared
    profile + inference build took, or None if it failed."""
    import __spark_entry__ as entry_mod
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    # JIT: the first codegen'd job in a fresh JVM also pays Janino/Catalyst
    # class loading and C2-compiling the code generator (17 s alone vs
    # 37-54 s as the first seat). This agg touches the physical paths the
    # seats use: HashAggregate codegen, regex, timestamp parsing, Expand
    # (countDistinct), ObjectHashAggregate (percentile), sort, broadcast
    # join and parquet scan.
    df = spark.range(2000).select(
        F.col("id"),
        F.concat(F.lit("v"), F.col("id").cast("string")).alias("s"),
        (F.col("id") % 7).alias("k"))
    df.agg(
        F.sum(F.when(F.col("s").rlike("[0-9]$"), 1).otherwise(0)),
        F.countDistinct("k"), F.countDistinct("s"),
        F.percentile(F.col("id").cast("double"), F.lit([0.25, 0.5, 0.75])),
        F.min(F.try_to_timestamp(F.col("s"), F.lit("yyyy-MM-dd"))),
        F.max(F.md5(F.col("s"))),
    ).collect()
    g = df.groupBy("k").agg(F.count(F.lit(1)).alias("ct"))
    g.join(F.broadcast(g.select(F.col("k").alias("k2"))),
           F.col("k") == F.col("k2")).orderBy("k").collect()
    region = os.path.join(sf_dir, "region.parquet")
    if os.path.exists(region):
        spark.read.parquet(region).count()

    # Python workers: the first MapInPandas/ArrowEvalPython stage forks one
    # worker per core and imports pandas/numpy in each (29 s on the first
    # python-heavy seat at 32 cores). Workers are reused afterwards.
    def _warm_workers(batches):
        import numpy  # noqa: F401
        import pandas  # noqa: F401
        yield from batches

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 4)
    (spark.range(cpus * 4).repartition(cpus)
     .mapInPandas(_warm_workers, "id long").count())

    # Operator classes the block above leaves cold: WindowExec codegen,
    # GenerateExec (explode), HLL sketch codegen, and the parquet write
    # committer with dynamic partition overwrite. Cold, they add 0.5-3 s to
    # whichever heavy seat runs first.
    w = spark.range(200).select((F.col("id") % 5).alias("k"),
                                F.col("id").alias("v"))
    w.select(F.row_number().over(
        Window.partitionBy("k").orderBy("v")).alias("rn")).agg(
        F.max("rn"), F.hll_sketch_estimate(F.hll_sketch_agg("rn"))).collect()
    w.select(F.explode(F.array(F.col("v"), F.col("v") + 1))).count()
    tmp = tempfile.mkdtemp(prefix="bench_warm_")
    try:
        (w.write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy("k").parquet(tmp + "/w"))
        spark.read.parquet(tmp + "/w").count()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    # The shared profile + inference build (memoized, reused by ~15 seats)
    # is charged to its own figure instead of to whichever consumer runs
    # first, where it moved 10-25 s between seats.
    t0 = time.perf_counter()
    try:
        entry_mod._inferred(spark, sf_dir, *entry_mod._UNION_TABLES).count()
    except Exception as exc:  # noqa: BLE001 — the seats still get timed
        print(f"# warmup_shared failed: {exc!r}", file=sys.stderr)
        return None
    return round(time.perf_counter() - t0, 3)


def _explain(df, path: str) -> None:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    phases = []
    it = df._jdf.queryExecution().tracker().phases().iterator()
    while it.hasNext():
        kv = it.next()
        phases.append((kv._2().startTimeMs(), kv._2().endTimeMs(), kv._1()))
    for start, end, name in sorted(phases):
        buf.write(f"phase {name}: {end - start} ms\n")
    with open(path, "w") as fh:
        fh.write(buf.getvalue())


def probe(spark, sf_dir: str, seats: dict, names: list[str], reps: int,
          explain_dir: str | None) -> dict[str, list[float]]:
    sc = spark.sparkContext
    results = {}
    for name in names:
        times = []
        for rep in range(reps):
            sc.setJobDescription(f"{name}#{rep}")
            t0 = time.perf_counter()
            df = seats[name](spark, sf_dir)
            df.count()
            times.append(round(time.perf_counter() - t0, 3))
        sc.setJobDescription(None)
        results[name] = times
        print(f"# {name}: {times}", file=sys.stderr)
        if explain_dir:
            os.makedirs(explain_dir, exist_ok=True)
            _explain(df, os.path.join(explain_dir, f"{name}.txt"))
    return results


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--only", nargs="+", metavar="NAME",
                    help="probe mode: time only these seats")
    ap.add_argument("--reps", type=int, default=3,
                    help="probe mode: timed runs per seat (default 3)")
    ap.add_argument("--explain", metavar="DIR",
                    help="probe mode: write DIR/<name>.txt plans")
    args = ap.parse_args(argv)

    import __spark_entry__ as entry_mod

    seats = entry_mod.queries()
    if args.only:
        unknown = [n for n in args.only if n not in seats]
        if unknown:
            ap.error(f"unknown seat(s): {', '.join(unknown)}")
        if args.reps < 1:
            ap.error("--reps must be at least 1")
    elif args.explain:
        ap.error("--explain needs --only")

    from dataops_testgen_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("bench")
    warmup_shared = warm(spark, sf_dir)
    print(f"# warmup_shared: {warmup_shared}s", file=sys.stderr)

    if args.only:
        print(json.dumps(probe(spark, sf_dir, seats, args.only, args.reps,
                               args.explain)))
        return

    timings: dict[str, float] = {}
    total = 0.0
    for name in sorted(seats):
        t0 = time.perf_counter()
        n = seats[name](spark, sf_dir).count()
        dt = time.perf_counter() - t0
        timings[name] = round(dt, 3)
        total += dt
        print(f"# {name}: {dt:.3f}s ({n} rows)", file=sys.stderr)

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    line = json.dumps({
        "metric": "total_query_seconds",
        "value": round(total, 3),
        "unit": "sec",
        "queries": timings,
        "warmup_shared_sec": warmup_shared,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    })
    # stdout readers may keep only the first ~2000 chars, which 122 seat
    # names exceed: BENCH_FULL.json keeps every per-seat timing.
    full = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        "BENCH_FULL.json")
    with open(full, "w") as fh:
        fh.write(line + "\n")
    print(line)


if __name__ == "__main__":
    main()
