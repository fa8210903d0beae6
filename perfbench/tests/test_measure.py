"""Unit tests for the benchmark's measurement helpers."""

import json
import types

import pytest

import measure


def test_median_odd_and_even():
    assert measure.median([3, 1, 2]) == 2
    assert measure.median([4, 1, 3, 2]) == 2.5
    with pytest.raises(ValueError):
        measure.median([])


def test_percentile_needs_ten_samples_beyond():
    xs = list(range(1, 101))
    assert measure.percentile(xs, 0.9) == 90  # exactly 10 samples above
    assert measure.percentile(xs[:99], 0.9) is None  # only 9 above
    assert measure.percentile(xs, 0.5) == 50


def test_highest_percentile_keeps_ten_beyond():
    q, v = measure.highest_percentile(list(range(1, 31)))
    assert (q, v) == (20 / 30, 20)
    assert measure.highest_percentile(list(range(1, 101))) == (0.9, 90)
    assert measure.highest_percentile(list(range(10))) is None


class FakeClock:
    def __init__(self, times):
        self.times = iter(times)

    def __call__(self):
        return next(self.times)


def test_nested_span_self_time():
    # A [0, 10] with children B [1, 4] and C [3, 6] (overlapping), and D [2, 3] inside B.
    spans = [
        measure.Span(0, "A", None, 0.0, 10.0),
        measure.Span(1, "B", 0, 1.0, 4.0),
        measure.Span(2, "D", 1, 2.0, 3.0),
        measure.Span(3, "C", 0, 3.0, 6.0),
    ]
    st = measure.self_times(spans)
    assert st == {0: 5.0, 1: 2.0, 2: 1.0, 3: 3.0}


def test_tracer_records_parents_and_job_windows():
    jobs = iter([0, 0, 2, 5, 5])
    t = measure.Tracer(job_counter=lambda: next(jobs), clock=FakeClock([0.0, 1.0, 3.0, 4.0]))
    outer = t.begin("outer")
    inner = t.begin("inner")
    t.end(inner)
    t.end(outer)
    assert (inner.parent, outer.parent) == (outer.id, None)
    assert (inner.job_lo, inner.job_hi) == (0, 2)
    assert (outer.job_lo, outer.job_hi) == (0, 5)
    assert measure.self_times(t.spans) == {0: 2.0, 1: 2.0}


def test_tracer_wrap_rebinds_and_honours_active():
    mod = types.SimpleNamespace(f=lambda x: x + 1)
    t = measure.Tracer()
    seen = []
    orig = t.wrap(mod, "f", "mod.f", after=lambda a, k, r: seen.append(r))
    assert mod.f(1) == 2 and [s.name for s in t.spans] == ["mod.f"] and seen == [2]
    t.active = False
    assert mod.f(2) == 3 and len(t.spans) == 1 and seen == [2]
    assert mod.f.__wrapped__ is orig


def _event_log():
    ev = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000, "Stage IDs": [0]},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": {
            "Executor Run Time": 500, "Executor CPU Time": 4e8, "JVM GC Time": 10,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 100},
            "Input Metrics": {"Bytes Read": 1000}}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 2000},
        # job 1 lists stage 0 again (skipped: reused shuffle) and runs stage 1
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 3000, "Stage IDs": [0, 1]},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Metrics": {
            "Executor Run Time": 200, "Shuffle Read Metrics": {"Local Bytes Read": 60, "Remote Bytes Read": 40},
            "Memory Bytes Spilled": 7}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Metrics": {"Executor Run Time": 300}},
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 3500},
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 6000, "Stage IDs": [2]},
        {"Event": "SparkListenerJobEnd", "Job ID": 2, "Completion Time": 6100},
    ]
    return [json.dumps(e) for e in ev]


def test_job_window_attribution():
    jobs = measure.parse_event_log(_event_log())
    first = measure.Span(0, "first", None, 0.5, 4.0, job_lo=0, job_hi=2)
    second = measure.Span(1, "second", None, 5.0, 7.0, job_lo=2, job_hi=3)
    a = measure.engine_totals(measure.jobs_in_window(first, jobs))
    assert a["jobs"] == 2 and a["stages"] == 2 and a["tasks"] == 3
    assert a["executor_run_s"] == pytest.approx(1.0)
    assert a["executor_cpu_s"] == pytest.approx(0.4)
    assert (a["shuffle_write_bytes"], a["shuffle_read_bytes"], a["spill_bytes"], a["input_bytes"]) == (100, 100, 7, 1000)
    assert jobs[1].stages == {1}  # the skipped stage stays with job 0
    b = measure.engine_totals(measure.jobs_in_window(second, jobs))
    assert b["jobs"] == 1 and b["tasks"] == 0
    # driver-busy time: span length minus the union of its jobs' run intervals
    assert measure.driver_busy(first, measure.jobs_in_window(first, jobs)) == pytest.approx(3.5 - 1.5)
    assert measure.driver_busy(second, measure.jobs_in_window(second, jobs)) == pytest.approx(1.9)


def test_vmhwm_reader(tmp_path):
    (tmp_path / "123").mkdir()
    (tmp_path / "123" / "status").write_text("Name:\tjava\nVmPeak:\t  99999 kB\nVmHWM:\t   20480 kB\nVmRSS:\t 1 kB\n")
    assert measure.vmhwm_mb(123, proc_root=str(tmp_path)) == 20.0
    (tmp_path / "124").mkdir()
    (tmp_path / "124" / "status").write_text("Name:\tx\n")
    with pytest.raises(ValueError):
        measure.vmhwm_mb(124, proc_root=str(tmp_path))
    assert measure.vmhwm_mb() > 1.0  # this process


def test_vmhwm_reset():
    blob = b"x" * (256 << 20)  # written, so resident
    high = measure.vmhwm_mb()
    del blob
    measure.reset_vmhwm()
    assert measure.vmhwm_mb() < high - 200
