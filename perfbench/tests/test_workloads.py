"""Workload helpers that decide what a run checks and samples."""

import workloads


def test_merge_groups_joins_groups_sharing_a_document():
    merged = workloads.merge_groups([[1, 2], [3, 4], [2, 5], [6, 7], [5, 8]])
    assert sorted(map(sorted, merged)) == [[1, 2, 5, 8], [3, 4], [6, 7]]


def test_traced_turns_alternate_abba():
    turns = [workloads.traced_turn(k) for k in range(workloads.TRACED_MIN_ITERATIONS)]
    assert turns == [False, True, True, False]


class _Clocked(workloads.Workload):
    """A workload whose iterations advance a fake clock by ``cost``."""

    def __init__(self, clock, cost):
        self.tracer = None
        self.clock, self.cost = clock, cost

    def iteration(self, res, warm=False):
        self.clock[0] += self.cost
        res.walls.append(self.cost)


def _iterations(monkeypatch, cost, window):
    clock = [0.0]
    monkeypatch.setattr(workloads.time, "perf_counter", lambda: clock[0])
    res = workloads.Result()
    _Clocked(clock, cost).run(res, deadline=window)
    return len(res.walls)


def test_run_starts_an_iteration_only_if_the_last_one_would_fit(monkeypatch):
    assert _iterations(monkeypatch, cost=4.0, window=15.0) == 3
    assert _iterations(monkeypatch, cost=11.0, window=15.0) == 1


def test_run_always_runs_one_iteration(monkeypatch):
    assert _iterations(monkeypatch, cost=20.0, window=15.0) == 1
