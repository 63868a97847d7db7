"""Tests for the benchmark's pure parts. No Spark session is started.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
from pathlib import Path

import pyarrow as pa
import pytest

from perfbench import eventlog, gen, stats
from perfbench.spans import Span, self_times
from perfbench.workloads import LLM_CURATE, SERVE_MIX, QueryWorkload

DATA = Path(__file__).resolve().parent / "data"


# --- the tail rule -------------------------------------------------------


def test_tail_has_ten_samples_beyond_it():
    value, pct, n = stats.tail([float(i) for i in range(1, 101)])
    assert (value, pct, n) == (90.0, 90.0, 100)
    assert sum(1 for x in range(1, 101) if x > value) == 10


def test_tail_of_unsorted_samples():
    xs = [5.0, 1.0, 9.0, 3.0] * 10  # 40 samples, ten of each
    value, pct, n = stats.tail(xs)
    assert n == 40 and pct == 75.0 and value == 5.0
    assert sum(1 for x in xs if x > value) >= 10


@pytest.mark.parametrize("n", [1, 5, 12, 20])
def test_tail_falls_back_to_max_when_rule_reaches_the_median(n):
    xs = [float(i) for i in range(n)]
    assert stats.tail(xs) == (float(n - 1), 100.0, n)


def test_tail_first_real_percentile_is_above_median():
    value, pct, n = stats.tail([float(i) for i in range(21)])
    assert n == 21 and pct == pytest.approx(100 * 11 / 21) and value == 10.0


def test_tail_of_nothing():
    assert stats.tail([]) == (0.0, 0.0, 0)


# --- failed_frac counting ------------------------------------------------


def test_failed_counts_raised_and_unverified_kinds():
    kinds = ["a", "b", "a", "c", "b"]
    assert stats.failed_frac(kinds, raised=set(), bad_kinds=set()) == (0, 5)
    assert stats.failed_frac(kinds, raised={3}, bad_kinds=set()) == (1, 5)
    # an unverified kind fails every op of that kind
    assert stats.failed_frac(kinds, raised=set(), bad_kinds={"a"}) == (2, 5)
    # an op that raised and is of a bad kind counts once
    assert stats.failed_frac(kinds, raised={0, 3}, bad_kinds={"a"}) == (3, 5)


def test_failed_of_no_ops():
    assert stats.failed_frac([], set(), {"a"}) == (0, 0)


# --- stolen time --------------------------------------------------------


def test_values_are_interpolated_between_samples_and_clamped():
    samples = [(10.0, [0.0, 0.0]), (11.0, [100.0, 50.0])]
    assert stats.interpolate(samples, 10.5) == [50.0, 25.0]
    assert stats.interpolate(samples, 9.0) == [0.0, 0.0]
    assert stats.interpolate(samples, 12.0) == [100.0, 50.0]


def test_stolen_time_of_one_vcpu_is_its_steal():
    samples = [(0.0, [0]), (1.0, [20]), (2.0, [20])]
    series = stats.stolen_series(samples, hz=100)
    assert [t for t, _ in series] == [0.0, 1.0, 2.0]
    assert [v[0] for _, v in series] == pytest.approx([0.0, 0.2, 0.2])


def test_stolen_time_counts_overlap_of_vcpus_once():
    # two vCPUs each held half of a 1 s interval: some vCPU was held 0.75 s
    series = stats.stolen_series([(0.0, [0, 0]), (1.0, [50, 50])], hz=100)
    assert series[1][1][0] == pytest.approx(0.75)
    # little steal adds up; all vCPUs held the whole interval count it once
    assert stats.stolen_series([(0.0, [0, 0]), (1.0, [1, 1])], hz=100)[1][1][0] == pytest.approx(0.0199)
    assert stats.stolen_series([(0.0, [0] * 4), (0.5, [50] * 4)], hz=100)[1][1][0] == pytest.approx(0.5)


def test_stolen_time_of_a_window_inside_an_interval_is_its_share():
    series = stats.stolen_series([(0.0, [0]), (1.0, [40])], hz=100)
    assert stats.interpolate(series, 0.75)[0] - stats.interpolate(series, 0.5)[0] == pytest.approx(0.1)


# --- determinism ---------------------------------------------------------


def test_zipf_counts_sum_and_skew():
    counts = gen.zipf_counts(14, 40)
    assert sum(counts) == 40
    assert counts == sorted(counts, reverse=True)
    assert counts[0] > counts[-1]


def test_same_seed_same_op_sequence():
    for wl in (QueryWorkload("s", SERVE_MIX, zipf=True), QueryWorkload("l", LLM_CURATE, zipf=False)):
        assert wl.sequence(7, 10) == wl.sequence(7, 10)
        assert sorted(wl.sequence(7, 10)) == sorted(wl.sequence(8, 10))


def test_seed_changes_order_not_multiset():
    a = gen.zipf_sequence(SERVE_MIX, 30, 1)
    b = gen.zipf_sequence(SERVE_MIX, 30, 2)
    assert a != b and sorted(a) == sorted(b)
    assert gen.permutations(LLM_CURATE, 2, 1) != gen.permutations(LLM_CURATE, 2, 2)


def _digests(paths):
    return [hashlib.sha256(p.read_bytes()).hexdigest() for p in paths]


def test_split_files_are_byte_identical_per_seed(tmp_path):
    table = pa.table({"k": list(range(100)), "v": [str(i) for i in range(100)]})
    a = gen.split_files(table, tmp_path / "a", 4, 20, seed=3, salt=10)
    b = gen.split_files(table, tmp_path / "b", 4, 20, seed=3, salt=10)
    c = gen.split_files(table, tmp_path / "c", 4, 20, seed=4, salt=10)
    assert [p.name for p in a] == [p.name for p in b]
    assert _digests(a) == _digests(b)
    assert _digests(a) != _digests(c)
    import pyarrow.parquet as pq

    keys = [k for p in a for k in pq.read_table(p).column("k").to_pylist()]
    assert len(keys) == 80 and len(set(keys)) == 80  # drawn without replacement


def test_perturbation_is_seeded_and_counts_changes():
    orders = gen.base_tables()["orders"].slice(0, 1000)
    new1, counts = gen.perturb_orders(orders, 5)
    new2, _ = gen.perturb_orders(orders, 5)
    assert new1.equals(new2)
    assert not new1.equals(gen.perturb_orders(orders, 6)[0])
    assert new1.num_rows == orders.num_rows - counts["deleted"] + counts["inserted"]


def test_base_tables_are_fixed():
    a, b = gen.base_tables(), gen.base_tables()
    assert all(a[t].equals(b[t]) for t in a)
    assert {t: a[t].num_rows for t in gen.TABLE_ROWS} == gen.TABLE_ROWS


# --- the event-log parser ------------------------------------------------


def test_rolling_parts_are_read_in_index_order():
    files = eventlog.event_files(DATA)
    assert [f.name for f in files] == ["events_1_local-1", "events_2_local-1"]


def test_jobs_sum_task_metrics():
    jobs = eventlog.jobs(eventlog.read_events(DATA))
    assert [j.job_id for j in jobs] == [0, 1, 2]
    j0 = jobs[0]
    assert j0.group == "op-a" and j0.tasks == 2
    assert j0.cpu_ns == 3_000_000_000
    assert j0.gc_ms == 15
    assert j0.spill_bytes == 3 * 1024 * 1024
    assert j0.shuffle_write_bytes == 1024 * 1024
    assert j0.read_bytes == 2 * 1024 * 1024
    assert j0.py == {eventlog.PY_RUN: 1500, eventlog.PY_START: 200, eventlog.PY_SENT: 512 * 1024}
    assert jobs[1].group is None and jobs[1].read_bytes == 1024 * 1024


def test_jobs_attributed_by_group_then_time_window():
    jobs = eventlog.jobs(eventlog.read_events(DATA))
    windows = {"op-a": (0.0, 1.0), "op-b": (1002.0, 1003.0)}
    got = eventlog.attribute(jobs, windows)
    assert [j.job_id for j in got["op-a"]] == [0]  # by group, outside its window
    assert [j.job_id for j in got["op-b"]] == [1]  # by submission time
    # job 2 (submitted at 1009 s) matches neither and is left out


def test_compressed_log_is_refused_with_the_setting_named(tmp_path):
    d = tmp_path / "eventlog_v2_local-2"
    d.mkdir()
    (d / "events_1_local-2.lz4").write_bytes(b"\x04\x22\x4d\x18")
    with pytest.raises(ValueError, match="spark.eventLog.compress=false"):
        list(eventlog.read_events(tmp_path))


# --- spans ---------------------------------------------------------------


def test_self_time_subtracts_covered_child_time():
    spans = [
        Span(0, "op", 0.0, 10.0, None, "o"),
        Span(1, "build", 1.0, 4.0, 0, "o"),
        Span(2, "exec", 3.0, 8.0, 0, "o"),  # overlaps build: union is 1..8
        Span(3, "exec", 5.0, 6.0, 2, "o"),
    ]
    got = self_times(spans)
    assert got["op"] == pytest.approx(3.0)
    assert got["build"] == pytest.approx(3.0)
    assert got["exec"] == pytest.approx(4.0 + 1.0)
