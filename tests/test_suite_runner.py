"""The parallel suite runner: its per-worker tally (conftest.worker_tally)
fails closed, and its worker heaps (session.driver_heap) fit the memory
available."""

from conftest import worker_tally

from dataops_testgen_spark.session import driver_heap

_ALL_PASS = """<?xml version="1.0" encoding="utf-8"?>
<testsuites><testsuite name="pytest" errors="0" failures="0" skipped="0"
 tests="4" time="1.0"></testsuite></testsuites>"""


def _junit(tmp_path, text):
    path = tmp_path / "worker.xml"
    path.write_text(text)
    return str(path)


def test_clean_worker_counts_its_outcomes(tmp_path):
    assert worker_tally(0, _junit(tmp_path, _ALL_PASS)) == (4, 0, 0)


def test_skips_are_not_passes(tmp_path):
    # the runner treats the missing outcome as a gap, hence a failure
    text = _ALL_PASS.replace('skipped="0"', 'skipped="1"')
    assert worker_tally(0, _junit(tmp_path, text)) == (3, 0, 0)


def test_nonzero_exit_with_all_pass_junit_is_a_failure(tmp_path):
    # e.g. a worker whose JVM died after the last test reported
    assert worker_tally(1, _junit(tmp_path, _ALL_PASS)) == (4, 1, 0)


def test_recorded_failures_are_not_double_counted(tmp_path):
    text = _ALL_PASS.replace('failures="0"', 'failures="2"')
    assert worker_tally(1, _junit(tmp_path, text)) == (2, 2, 0)


def test_missing_junit_file_is_a_failure(tmp_path):
    assert worker_tally(0, str(tmp_path / "none.xml")) == (0, 0, 1)
    assert worker_tally(-9, str(tmp_path / "none.xml")) == (0, 0, 1)


def test_truncated_junit_file_is_a_failure(tmp_path):
    assert worker_tally(0, _junit(tmp_path, _ALL_PASS[:60])) == (0, 0, 1)


def _meminfo(tmp_path, avail_kb):
    p = tmp_path / "meminfo"
    p.write_text(f"MemTotal: {avail_kb * 2} kB\nMemAvailable: {avail_kb} kB\n")
    return str(p)


def test_worker_heap_splits_available_memory(tmp_path):
    # the runner's call: its worker count and a 10g cap. 16 GB across 2
    # workers: 8 GB each, less the 2 GB off-heap allowance
    def worker_heap(n, meminfo):
        return driver_heap(n, cap_mb=10 * 1024, meminfo=meminfo)

    assert worker_heap(2, _meminfo(tmp_path, 16 * 1024 ** 2)) == "6144m"
    assert worker_heap(2, _meminfo(tmp_path, 64 * 1024 ** 2)) == "10240m"
    assert worker_heap(4, _meminfo(tmp_path, 4 * 1024 ** 2)) == "1024m"
    assert worker_heap(2, str(tmp_path / "missing")) == "10240m"


def test_session_default_heap_fits_one_jvm(tmp_path):
    # get_spark's default when SPARK_DRIVER_MEMORY is unset: one JVM, at
    # most the old fixed 24g
    assert driver_heap(meminfo=_meminfo(tmp_path, 15 * 1024 ** 2)) == "13312m"
    assert driver_heap(meminfo=_meminfo(tmp_path, 64 * 1024 ** 2)) == "24576m"
    assert driver_heap(meminfo=str(tmp_path / "missing")) == "24576m"
