"""In-memory spans around the engine's public layer functions.

``Tracer.install`` replaces each function named in ``WRAPPED`` with a
wrapper that records a span (name, start, end, parent span, cycle id) and
the Spark job / stage / task deltas read from the public
``sparkContext.statusTracker()``. The wrappers stay installed for the
whole run; when ``Tracer.active`` is false they only call through, which
is how a traced run also times untraced cycles for ``trace.overhead_s``.
The package itself is not modified.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import json
import threading
import time

# (module, attribute path) -> span name; the span's layer is the text
# before the first dot. Package-level names are patched where callers
# resolve them (``from dataops_testgen_spark.scoring import rollup_scores``
# reads the package attribute at call time).
WRAPPED = {
    ("dataops_testgen_spark.io.loaders", "load_table"): "io.load_table",
    ("dataops_testgen_spark.profiling.profiler", "profile_tables"):
        "profiling.profile_tables",
    ("dataops_testgen_spark.inference", "apply_inference"):
        "inference.apply_inference",
    ("dataops_testgen_spark.inference.fk_discovery", "sync_fk_monitors"):
        "inference.sync_fk_monitors",
    ("dataops_testgen_spark.anomalies", "screen_anomalies"):
        "anomalies.screen_anomalies",
    ("dataops_testgen_spark.generation", "generate_selection_tests"):
        "generation.generate_selection_tests",
    ("dataops_testgen_spark.generation.selection", "to_test_defs"):
        "generation.to_test_defs",
    ("dataops_testgen_spark.execution.validation", "validate_tests"):
        "execution.validate_tests",
    ("dataops_testgen_spark.execution.cat", "run_cat_tests"):
        "execution.run_cat_tests",
    ("dataops_testgen_spark.execution.query_runner", "run_query_tests"):
        "execution.run_query_tests",
    ("dataops_testgen_spark.execution.query_tests", "table_fingerprint"):
        "execution.table_fingerprint",
    ("dataops_testgen_spark.scoring", "rollup_scores"):
        "scoring.rollup_scores",
    ("dataops_testgen_spark.scoring.rollup", "attach_test_prevalence"):
        "scoring.attach_test_prevalence",
    ("dataops_testgen_spark.store", "RunStore.append"): "store.append",
    ("dataops_testgen_spark.store", "RunStore.read"): "store.read",
    ("dataops_testgen_spark.prediction.forecast", "predict_tolerances"):
        "prediction.predict_tolerances",
    ("dataops_testgen_spark.pipeline.curation", "curation_gate"):
        "pipeline.curation_gate",
    ("dataops_testgen_spark.pipeline.retrieval", "lexical_index_append"):
        "pipeline.lexical_index_append",
    ("dataops_testgen_spark.pipeline.retrieval", "bm25_index_topk"):
        "pipeline.bm25_index_topk",
}

LAYERS = ("io", "profiling", "inference", "anomalies", "generation",
          "execution", "scoring", "store", "prediction", "pipeline")

# execution entry points whose second argument is the list of test
# definitions they run (counted for execution.tests)
_TEST_LISTS = {"execution.run_cat_tests", "execution.run_query_tests"}


class Spark:
    """Cumulative job / stage / task counts from the status tracker. Jobs
    carry sequential ids, so the newest id counts submissions; stage and
    task figures of finished jobs are cached (the tracker retains a
    bounded history)."""

    def __init__(self, spark):
        self._st = spark.sparkContext.statusTracker()
        self._done: dict[int, tuple[int, int, int]] = {}

    def last_job(self) -> int:
        ids = self._st.getJobIdsForGroup()
        return max(ids) if ids else -1

    def job_counts(self, jid: int) -> tuple[int, int, int]:
        """(stages run, tasks completed, tasks failed) of one job."""
        if jid in self._done:
            return self._done[jid]
        info = self._st.getJobInfo(jid)
        if info is None:
            return 0, 0, 0
        stages = tasks = failed = 0
        for sid in info.stageIds:
            si = self._st.getStageInfo(sid)
            if si is not None and si.numCompletedTasks + si.numFailedTasks:
                stages += 1
                tasks += si.numCompletedTasks
                failed += si.numFailedTasks
        if info.status in ("SUCCEEDED", "FAILED"):
            self._done[jid] = (stages, tasks, failed)
        return stages, tasks, failed

    def counts(self, first: int, last: int) -> dict[str, int]:
        """Jobs with ids in (first, last] and their stage/task totals."""
        out = {"jobs": max(last - first, 0), "stages": 0, "tasks": 0,
               "failed_tasks": 0}
        for jid in range(first + 1, last + 1):
            s, t, f = self.job_counts(jid)
            out["stages"] += s
            out["tasks"] += t
            out["failed_tasks"] += f
        return out


class Tracer:
    def __init__(self, spark):
        self.spark = Spark(spark)
        self.active = False
        self.cycle = 0
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()

    # -- spans --------------------------------------------------------------

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.active:
            yield None
            return
        stack = self._local.__dict__.setdefault("stack", [])
        rec = {"name": name, "cycle": self.cycle,
               "parent": stack[-1]["id"] if stack else None,
               "thread": threading.get_ident(), **attrs}
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec)
        rec["job0"] = self.spark.last_job()
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec.update(self.spark.counts(rec["job0"], self.spark.last_job()))
            stack.pop()

    def _wrap(self, fn, name: str):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not tracer.active:
                return fn(*args, **kwargs)
            attrs = {}
            if name in _TEST_LISTS and len(args) > 1:
                attrs["tests"] = len(args[1])
            with tracer.span(name, **attrs):
                return fn(*args, **kwargs)
        return wrapper

    def install(self) -> None:
        for (mod_name, path), name in WRAPPED.items():
            owner = importlib.import_module(mod_name)
            *parents, attr = path.split(".")
            for p in parents:
                owner = getattr(owner, p)
            setattr(owner, attr, self._wrap(owner.__dict__[attr], name))

    # -- reduction ----------------------------------------------------------

    def self_times(self, cycle: int) -> list[tuple[dict, dict]]:
        """(span, self figures) for each finished span of one cycle: its
        seconds, jobs, stages and tasks minus those of its direct
        children."""
        spans = [s for s in self.spans if s["cycle"] == cycle and "end" in s]
        keys = ("jobs", "stages", "tasks")
        kids: dict[int, dict[str, float]] = {}
        for s in spans:
            acc = kids.setdefault(s["parent"], dict.fromkeys(("s", *keys), 0))
            acc["s"] += s["end"] - s["start"]
            for k in keys:
                acc[k] += s[k]
        out = []
        for s in spans:
            ch = kids.get(s["id"], {})
            own = {"s": s["end"] - s["start"] - ch.get("s", 0.0)}
            own.update({k: s[k] - ch.get(k, 0) for k in keys})
            out.append((s, own))
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps({k: v for k, v in s.items()
                                     if k != "job0"}) + "\n")
