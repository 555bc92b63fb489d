"""Self-tests of the benchmark at a tiny size; no Spark session needed.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import contextlib
import hashlib
import json
import os

import gen
import run
import spans
import workloads


def _sha(path: str) -> str:
    with open(path, "rb") as fh:
        return hashlib.sha256(fh.read()).hexdigest()


def test_star_group_same_seed_same_bytes(tmp_path):
    a = gen.write_star_group(str(tmp_path / "a"), 7, n_orders=60)
    b = gen.write_star_group(str(tmp_path / "b"), 7, n_orders=60)
    c = gen.write_star_group(str(tmp_path / "c"), 8, n_orders=60)
    assert a == b
    for t in gen.STAR_TABLES:
        assert (_sha(str(tmp_path / "a" / f"{t}.parquet"))
                == _sha(str(tmp_path / "b" / f"{t}.parquet")))
    assert any(_sha(str(tmp_path / "a" / f"{t}.parquet"))
               != _sha(str(tmp_path / "c" / f"{t}.parquet"))
               for t in gen.STAR_TABLES)


def test_star_group_carries_flaw_classes():
    rows = gen.star_rows(3, n_orders=400)
    segs = {r["c_mktsegment"] for r in rows["customer"]}
    assert segs & set(gen.DUMMY_BLANKS)
    assert any(s != s.upper() and s.upper() in gen.SEGMENTS for s in segs)
    assert any("@" not in r["c_email"] for r in rows["customer"])
    assert any(not r["c_zip"].isdigit() for r in rows["customer"])
    keys = [r["o_orderkey"] for r in rows["orders"]]
    assert len(keys) > len(set(keys))                 # duplicate rows


def test_corpus_same_seed_same_bytes_and_known_keep(tmp_path):
    a = gen.make_corpus(5, 400, n_queries=4)
    b = gen.make_corpus(5, 400, n_queries=4)
    assert a == b
    assert (gen.write_docs(a["docs"], str(tmp_path / "a.parquet"))
            == gen.write_docs(b["docs"], str(tmp_path / "b.parquet")))
    assert _sha(str(tmp_path / "a.parquet")) == _sha(str(tmp_path / "b.parquet"))
    n_dup, n_short, n_foreign = 20, 32, 40           # the default shares
    assert len(a["keep"]) == 400 - n_dup - n_short - n_foreign
    texts = [d["text"] for d in a["docs"]]
    assert len(set(texts)) < len(texts)               # exact-duplicate tail
    en = [d for d in a["docs"] if d["doc_id"] in a["keep"]]
    assert all(len(d["text"].split()) >= 50 for d in en)
    assert all(len(set(gen.STOPWORDS) & set(d["text"].split())) >= 2
               for d in en)                           # Gopher stopword rule
    for qid, text, planted in a["queries"]:
        assert text.split()[0] in a["docs"][planted]["text"].split()


def _decisions(corpus):
    return [{"id": d["doc_id"], "keep": d["doc_id"] in corpus["keep"]}
            for d in corpus["docs"]]


def _hits(corpus, k):
    return [{"query_id": q, "id": planted if r == 1 else 10**9 + r, "rnk": r}
            for q, _t, planted in corpus["queries"] for r in range(1, k + 1)]


def test_corpus_check_accepts_correct_and_flags_corruption():
    c = gen.make_corpus(9, 300, n_queries=3)
    n, k = len(c["docs"]), 5
    good = workloads.check_corpus(_decisions(c), n, c["keep"], _hits(c, k),
                                  c["queries"], k)
    assert good == []
    flipped = _decisions(c)
    flipped[0]["keep"] = not flipped[0]["keep"]
    assert workloads.check_corpus(flipped, n, c["keep"], _hits(c, k),
                                  c["queries"], k)
    assert workloads.check_corpus(_decisions(c)[1:], n, c["keep"],
                                  _hits(c, k), c["queries"], k)
    short = [h for h in _hits(c, k) if h["rnk"] > 1]
    assert workloads.check_corpus(_decisions(c), n, c["keep"], short,
                                  c["queries"], k)


def test_quality_and_monitor_checks_flag_corruption():
    prof = [{"column_name": f"c{i}"} for i in range(5)]
    res = [{"test_type": "Row_Ct", "result_code": 1, "result_measure": 2.0,
            "test_run_id": "a"}]
    bad, ref = workloads.check_quality(prof, 5, [], res, None)
    assert bad == []
    rerun = [dict(res[0], test_run_id="b")]          # run ids do not count
    assert workloads.check_quality(prof, 5, [], rerun, ref)[0] == []
    changed = [dict(res[0], result_code=0)]
    assert workloads.check_quality(prof, 5, [], changed, ref)[0]
    assert workloads.check_quality(prof[1:], 5, [], res, ref)[0]
    mon = [{"table_name": "t", "test_type": "Volume_Trend",
            "threshold_value": "1.00..2.00", "result_measure": 1.0},
           {"table_name": "t", "test_type": "Table_Freshness",
            "threshold_value": None, "result_measure": 0.0}]
    assert workloads.check_monitors(mon, ["t"]) == []
    assert workloads.check_monitors([mon[0], dict(mon[1], result_measure=1.0)],
                                    ["t"])
    assert workloads.check_monitors([dict(mon[0], threshold_value=None),
                                     mon[1]], ["t"])


class _FakeTracker:
    def getJobIdsForGroup(self, group=None):
        return []

    def getJobInfo(self, jid):
        return None


class _FakeSpark:
    class sparkContext:
        @staticmethod
        def statusTracker():
            return _FakeTracker()


class _FakeWorkload:
    """A workload whose outputs are correct except in ``corrupt`` cycles."""

    def __init__(self, corrupt=(), raise_in=()):
        self.corrupt, self.raise_in = set(corrupt), set(raise_in)
        self.n = 0
        self.input_bytes = 100
        self.facts = {}
        self.span = lambda name, **a: contextlib.nullcontext()

    def reset(self, first):
        pass

    def cycle(self):
        self.n += 1
        with self.span("cli.fake"):
            with self.span("store.append"):
                pass
        if self.n in self.raise_in:
            raise RuntimeError("boom")

    def check(self, first):
        return ["corrupted"] if self.n in self.corrupt else []

    def written(self):
        return {"store": (2, 50)}


def test_corrupted_or_raising_cycle_is_a_failed_operation():
    r = run.Runner(_FakeWorkload(corrupt={2}, raise_in={3}), None)
    for first in (True, False, False, False):
        r.one(first, traced=False)
    line = run.result(r.cycles, {k: 1.0 for k in run.END_TO_END},
                      run.END_TO_END)
    assert (line["attempted"], line["failed"], line["correct"]) == (4, 2, False)
    ok = run.Runner(_FakeWorkload(), None)
    ok.one(True, traced=False)
    line = run.result(ok.cycles, {k: 1.0 for k in run.END_TO_END},
                      run.END_TO_END)
    assert (line["attempted"], line["failed"], line["correct"]) == (1, 0, True)


class _RaisingFirst(workloads.QualityCycle):
    """A quality workload on disk whose first cycle raises before any
    check has run; later cycles write nothing and pass."""

    def setup(self):
        os.makedirs(self.path("store"))
        self.snapshot("seed")

    def cycle(self):
        if not os.path.isdir(self.path("store.warm")) and not self.facts:
            self.facts["raised"] = True
            raise RuntimeError("boom")

    def check(self, first):
        if first:
            self.snapshot("warm")
        return []


def test_first_cycle_raising_is_reported_not_a_crash(tmp_path):
    wl = _RaisingFirst(None, str(tmp_path / "wl"), 1)
    wl.setup()
    r = run.Runner(wl, None)
    r.run(0.0)
    line = run.result(r.cycles, r.end_to_end(1.0, 10.0), run.END_TO_END)
    assert (line["attempted"], line["failed"], line["correct"]) == (2, 1, False)
    assert [c["problems"] for c in r.cycles] == [["cycle raised"], []]


def _bench():
    here = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(os.path.dirname(here), "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_every_named_metric_is_printed_with_its_unit():
    bench = _bench()
    wl = _FakeWorkload()
    r = run.Runner(wl, None)
    r.one(True, traced=False)
    r.one(False, traced=False)
    line = run.result(r.cycles, r.end_to_end(1.0, 10.0), run.END_TO_END)
    json.dumps(line)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == {
        k: v["unit"] for k, v in line["metrics"].items()}

    tracer = spans.Tracer(_FakeSpark())
    wl = _FakeWorkload()
    wl.span = tracer.span
    r = run.Runner(wl, tracer)
    r.run(0.0)
    units = run.per_layer_units()
    line = run.result(r.cycles, r.per_layer(), units)
    json.dumps(line)
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == {
        k: v["unit"] for k, v in line["metrics"].items()}
    assert line["metrics"]["store.calls"]["value"] == 1
    assert line["metrics"]["cli.calls"]["value"] == 1
    assert [c["traced"] for c in r.cycles] == [True, False, True, False]


def test_benchmark_json_contract():
    bench = _bench()
    assert set(bench) == {"command", "paths", "run_seconds", "workloads",
                          "end_to_end", "per_layer"}
    assert {w["name"] for w in bench["workloads"]} == set(workloads.WORKLOADS)
    e2e = {m["name"]: m for m in bench["end_to_end"]}
    assert e2e["setup_s"]["bound"] == max(m["bound"] for m in e2e.values())
    assert all(0 < m["bound"] <= 0.25 for m in e2e.values())
