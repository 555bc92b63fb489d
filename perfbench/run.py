"""Benchmark of the TestGen engine through its public entry points.

    python3 perfbench/run.py --workload quality_cycle --seed 1 \
        --seconds 20 --trace 0

Runs from the root of a source checkout. Inputs are generated from
``--seed`` into ``.perfbench_work/`` (removed at exit). One run:

1. starts the Spark session and sets the workload up ``SETUP_REPS`` times
   (inputs + seeded store or index); ``setup_s`` is the session's start
   plus the median set-up;
2. times the first cycle in the fresh JVM, then warm cycles until
   ``--seconds`` have passed (at least ``MIN_WARM``), each from the same
   seeded state and a full JVM collection, and each followed by its heap
   figures and output check;
3. prints a diagnostics line and, last, the result line
   ``{"correct", "attempted", "failed", "metrics"}``.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` wraps the
engine's layer functions (spans.py), traces every other warm cycle, and
reports per-layer metrics, ``trace.overhead_s`` (traced minus untraced
warm-cycle median) and a span dump in ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 3
MIN_WARM = 1
DRIVER_MEMORY = "2g"

END_TO_END = {"setup_s": "s", "first_cycle_s": "s", "cycle_p50_s": "s",
              "peak_rss_mb": "MB", "stored_bytes_per_input_byte": "B/B"}


def per_layer_units() -> dict[str, str]:
    from spans import LAYERS

    units = {}
    for layer in (*LAYERS, "cli"):
        units.update({f"{layer}.calls": "count", f"{layer}.self_s": "s",
                      f"{layer}.jobs": "count", f"{layer}.tasks": "count"})
    units.update({
        "spark.jobs": "count", "spark.stages": "count",
        "spark.tasks": "count", "spark.failed_tasks": "count",
        "execution.tests": "count", "execution.tests_per_job": "1/job",
        "anomalies.findings": "count",
        "store.read_s": "s", "store.write_s": "s",
        "store.files_written": "count", "store.bytes_written": "B",
        "prediction.forecasts": "count",
        "pipeline.docs": "count", "pipeline.keep_share": "ratio",
        "pipeline.index_files": "count", "pipeline.search_s": "s",
        "monitors.wall_s": "s", "monitors.self_s": "s",
        "monitors.jobs": "count", "monitors.tasks": "count",
        "jvm.heap_old_peak_mb": "MB", "jvm.heap_pools_peak_mb": "MB",
        "jvm.heap_live_mb": "MB",
        "jvm.gc_s": "s", "jvm.jit_s": "s",
        "trace.overhead_s": "s", "cycle_cpu_s": "s"})
    for layer in (*LAYERS, "cli", "spark"):
        units[f"first.{layer}.jobs"] = "count"
        if layer != "spark":
            units[f"first.{layer}.self_s"] = "s"
    return units


def process_age_s() -> float:
    """Seconds since this process started (kernel start time)."""
    with open("/proc/self/stat") as fh:
        start = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        up = float(fh.read().split()[0])
    return up - start / os.sysconf("SC_CLK_TCK")


def configure_env(work: str) -> int:
    """Steadiness controls; must run before the JVM starts."""
    cpus = max(1, min(len(os.sched_getaffinity(0)) - 1, 3))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        # keep the JVM's temp files (and no perf-data file) in the checkout
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        # a fixed, pre-touched Spark driver heap makes the JVM's resident size
        # independent of when the collector decides to grow the heap
        "PYSPARK_SUBMIT_ARGS": (
            "--conf 'spark.driver.defaultJavaOptions="
            f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch' pyspark-shell"),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    })
    return cpus


def stop_spark(spark) -> None:
    """Stop the session and the JVM, and wait until every process this run
    started (the JVM and Spark's Python workers) has ended."""
    from pyspark import SparkContext

    import proc

    children = proc.tree_pids()[1:]
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        jvm = getattr(gateway, "proc", None)
        if jvm is not None:
            jvm.stdin.close()
            jvm.wait(timeout=60)

    def alive():                  # a zombie has ended; its parent reaps it
        return [p for p in children if proc.state(p) not in (None, "Z")]
    deadline = time.monotonic() + 30
    while alive() and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in alive():
        with contextlib.suppress(OSError):
            os.kill(pid, 9)
    while alive() and time.monotonic() < deadline + 10:
        time.sleep(0.1)


class Jvm:
    """The Spark driver JVM's heap, collector and compiler, from its
    management beans. The heap is fixed and pre-touched, so resident memory
    cannot show its use; these figures do. ``start`` runs a full collection
    and resets the heap pools' peaks before a cycle; ``sample`` reads,
    after it: the old generation's peak, the sum of all heap pools' peaks,
    the heap still live after another full collection (MB), and the
    collector's and JIT compiler's time during the cycle (s)."""

    def __init__(self, spark):
        mf = spark._jvm.java.lang.management.ManagementFactory
        self._system = spark._jvm.java.lang.System
        self._memory = mf.getMemoryMXBean()
        self._pools = [p for p in mf.getMemoryPoolMXBeans()
                       if p.getType().name() == "HEAP"]
        self._gcs = list(mf.getGarbageCollectorMXBeans())
        self._jit = mf.getCompilationMXBean()

    def _times_ms(self) -> tuple[int, int]:
        return (sum(g.getCollectionTime() for g in self._gcs),
                self._jit.getTotalCompilationTime())

    def start(self) -> None:
        self._system.gc()
        for p in self._pools:
            p.resetPeakUsage()
        self._t0 = self._times_ms()

    def sample(self) -> dict[str, float]:
        gc_ms, jit_ms = self._times_ms()
        peaks = {p.getName(): p.getPeakUsage().getUsed() / 2**20
                 for p in self._pools}
        self._system.gc()
        return {"old_peak": sum(v for k, v in peaks.items()
                                if "Old" in k or "Tenured" in k),
                "pools_peak": sum(peaks.values()),
                "live": self._memory.getHeapMemoryUsage().getUsed() / 2**20,
                "gc_s": (gc_ms - self._t0[0]) / 1000,
                "jit_s": (jit_ms - self._t0[1]) / 1000}


def median(xs):
    return statistics.median(xs) if xs else 0.0


class Runner:
    """Runs and times one workload's cycles and reduces them to metrics."""

    def __init__(self, workload, tracer=None, jvm=None):
        self.wl, self.tracer, self.jvm = workload, tracer, jvm
        self.cycles: list[dict] = []

    def one(self, first: bool, traced: bool = False) -> None:
        from proc import tree_cpu_s

        wl, tr = self.wl, self.tracer
        wl.reset(first)
        if self.jvm is not None:
            self.jvm.start()
        idx = len(self.cycles)
        if tr is not None:
            tr.active, tr.cycle = traced, idx
        cpu0 = tree_cpu_s()
        t0 = time.perf_counter()
        problems = []
        try:
            with wl.span("cycle"):
                wl.cycle()
        except Exception:                      # counted as a failed cycle
            traceback.print_exc()
            problems.append("cycle raised")
        wall = time.perf_counter() - t0
        cpu = tree_cpu_s() - cpu0
        jvm = self.jvm.sample() if self.jvm is not None else {}
        if tr is not None:
            tr.active = False
        if not problems:
            try:
                problems = wl.check(first)
            except Exception:
                traceback.print_exc()
                problems = ["check raised"]
        self.cycles.append({"wall": wall, "cpu": cpu, "traced": traced,
                            "problems": problems,
                            "jvm": jvm,
                            "written": wl.written(),
                            "facts": dict(wl.facts)})

    def run(self, seconds: float) -> None:
        """First cycle, then warm cycles for ``seconds`` (at least
        ``MIN_WARM``). A traced run alternates untraced and traced warm
        cycles, starting and ending untraced, so JIT warm-up does not bias
        the overhead."""
        traced = self.tracer is not None
        self.one(first=True, traced=traced)
        min_warm = 3 if traced else MIN_WARM
        start, n = time.perf_counter(), 0
        while (n < min_warm or time.perf_counter() - start < seconds
               or (traced and n % 2 == 0)):
            self.one(first=False, traced=traced and n % 2 == 1)
            n += 1

    # -- metrics ------------------------------------------------------------

    def end_to_end(self, setup_s: float, peak_rss_mb: float) -> dict:
        warm = self.cycles[1:]
        stored = median([sum(b for _f, b in c["written"].values())
                         for c in warm])
        return {"setup_s": setup_s,
                "first_cycle_s": self.cycles[0]["wall"],
                "cycle_p50_s": median([c["wall"] for c in warm]),
                "peak_rss_mb": peak_rss_mb,
                "stored_bytes_per_input_byte":
                    stored / max(self.wl.input_bytes, 1)}

    def layer_row(self, i: int) -> dict:
        """Per-layer figures of cycle ``i`` from its spans."""
        from spans import LAYERS

        c, spans = self.cycles[i], self.tracer.self_times(i)
        row = {}
        for layer in (*LAYERS, "cli"):
            mine = [t for s, t in spans if s["name"].split(".", 1)[0] == layer]
            row[f"{layer}.calls"] = len(mine)
            row[f"{layer}.self_s"] = sum(t["s"] for t in mine)
            row[f"{layer}.jobs"] = sum(t["jobs"] for t in mine)
            row[f"{layer}.tasks"] = sum(t["tasks"] for t in mine)

        def named(name):
            return [(s, t) for s, t in spans if s["name"] == name]
        root = named("cycle")[0][0]
        for k in ("jobs", "stages", "tasks", "failed_tasks"):
            row[f"spark.{k}"] = root[k]
        tests = sum(s.get("tests", 0) for s, _t in spans)
        row["execution.tests"] = tests
        row["execution.tests_per_job"] = (
            tests / row["execution.jobs"] if row["execution.jobs"] else 0)
        row["anomalies.findings"] = c["facts"].get("anomalies", 0)
        row["store.read_s"] = sum(t["s"] for _s, t in named("store.read"))
        row["store.write_s"] = sum(t["s"] for _s, t in named("store.append"))
        row["store.files_written"] = sum(f for f, _b in c["written"].values())
        row["store.bytes_written"] = sum(b for _f, b in c["written"].values())
        row["prediction.forecasts"] = len(named("prediction.predict_tolerances"))
        # the run-monitors step as a whole: its store history scans run
        # in CLI code, outside every wrapped function
        mon = named("cli.run-monitors")
        row["monitors.wall_s"] = sum(s["end"] - s["start"] for s, _t in mon)
        row["monitors.self_s"] = sum(t["s"] for _s, t in mon)
        row["monitors.jobs"] = sum(s["jobs"] for s, _t in mon)
        row["monitors.tasks"] = sum(s["tasks"] for s, _t in mon)
        row["pipeline.docs"] = c["facts"].get("docs", 0)
        row["pipeline.keep_share"] = c["facts"].get("keep_share", 0)
        row["pipeline.index_files"] = c["written"].get("index", (0, 0))[0]
        row["pipeline.search_s"] = sum(
            s["end"] - s["start"] for s, _t in named("pipeline.search"))
        return row

    def per_layer(self) -> dict:
        """Medians over the traced warm cycles, plus the first cycle's
        layer figures under ``first.`` (work such as suite generation runs
        only there)."""
        from spans import LAYERS

        rows = [self.layer_row(i) for i, c in enumerate(self.cycles)
                if i and c["traced"]]
        out = {k: median([r[k] for r in rows]) for k in rows[0]}
        first = self.layer_row(0)
        for layer in (*LAYERS, "cli", "spark"):
            out[f"first.{layer}.jobs"] = first[f"{layer}.jobs"]
            if layer != "spark":
                out[f"first.{layer}.self_s"] = first[f"{layer}.self_s"]
        traced = [c for c in self.cycles[1:] if c["traced"]]
        plain = [c for c in self.cycles[1:] if not c["traced"]]
        out["trace.overhead_s"] = (median([c["wall"] for c in traced])
                                   - median([c["wall"] for c in plain]))
        for k, name in (("old_peak", "heap_old_peak_mb"),
                        ("pools_peak", "heap_pools_peak_mb"),
                        ("live", "heap_live_mb"), ("gc_s", "gc_s"),
                        ("jit_s", "jit_s")):
            out[f"jvm.{name}"] = median(
                [c["jvm"].get(k, 0.0) for c in self.cycles[1:]])
        # CPU of the whole process tree; its run-to-run spread is too wide
        # for an end-to-end bound, so it is reported here, untraced
        out["cycle_cpu_s"] = median([c["cpu"] for c in plain])
        return out


def result(cycles: list[dict], values: dict, units: dict) -> dict:
    """The result line: a cycle whose check found a problem, or that
    raised, is a failed operation."""
    failed = sum(1 for c in cycles if c["problems"])
    return {"correct": failed == 0, "attempted": len(cycles),
            "failed": failed,
            "metrics": {k: {"value": values[k], "unit": units[k]}
                        for k in units}}


def main(argv=None) -> int:
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    # fails (non-zero exit, no result line) outside a full source checkout
    import dataops_testgen_spark.__main__  # noqa: F401
    from dataops_testgen_spark.session import get_spark

    import proc
    from spans import Tracer

    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{os.getpid()}")
    cpus = configure_env(work)
    spark = None
    try:
        spark = get_spark("dataops-testgen-cli")
        session_s = process_age_s()
        wl = WORKLOADS[args.workload](spark, os.path.join(work, "wl"),
                                      args.seed)
        reps = []
        for _ in range(SETUP_REPS):
            t0 = time.perf_counter()
            wl.setup()
            reps.append(time.perf_counter() - t0)
        setup_s = session_s + median(reps)
        tracer = None
        if args.trace:
            tracer = Tracer(spark)
            tracer.install()
            wl.span = tracer.span
        host0, cpu0 = proc.host_cpu_ticks(), proc.tree_cpu_s()
        runner = Runner(wl, tracer, Jvm(spark))
        runner.run(args.seconds)
        rss_by_pid = proc.peak_rss_mb_by_pid()
        rss = sum(rss_by_pid.values())
        diag = proc.contention(host0, proc.host_cpu_ticks(),
                               proc.tree_cpu_s() - cpu0)
        if args.trace:
            values, units = runner.per_layer(), per_layer_units()
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            tracer.dump(os.path.join(
                out_dir, f"spans-{args.workload}-seed{args.seed}.jsonl"))
        else:
            values, units = runner.end_to_end(setup_s, rss), END_TO_END
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))

    cycles = runner.cycles
    print(json.dumps({"diagnostics": {
        "workload": args.workload, "seed": args.seed, "cpus": cpus,
        "setup_reps_s": [round(x, 4) for x in reps],
        "session_s": round(session_s, 4),
        "warm_samples": len(cycles) - 1,
        "cycle_walls_s": [round(c["wall"], 4) for c in cycles],
        "cycle_cpu_s": [round(c["cpu"], 4) for c in cycles],
        "traced": [c["traced"] for c in cycles],
        "checks": [c["problems"] or "ok" for c in cycles],
        "jvm_by_cycle": [{k: round(v, 3) for k, v in c["jvm"].items()}
                         for c in cycles],
        "peak_rss_mb_by_process": sorted(round(v, 1)
                                         for v in rss_by_pid.values()),
        **diag}}))
    print(json.dumps(result(cycles, values, units)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
