"""Unit tests for the scale-ratio regression gate's flag logic
(tools/scale_gate.py::diff — pure function, no Spark)."""

from __future__ import annotations

import importlib.util
import sys
from pathlib import Path

_spec = importlib.util.spec_from_file_location(
    "scale_gate",
    Path(__file__).resolve().parent.parent / "tools" / "scale_gate.py",
)
scale_gate = importlib.util.module_from_spec(_spec)
sys.modules["scale_gate"] = scale_gate
_spec.loader.exec_module(scale_gate)


def _row(sf01: float, sf1: float) -> dict:
    return {"sf0.1": sf01, "sf1": sf1, "ratio": round(sf1 / sf01, 2)}


def test_flags_only_ratio_worsening_beyond_factor():
    prior = {"q": _row(1.0, 2.0)}  # ratio 2.0
    # 2.9x is under 2.0 * 1.5 — no flag
    assert not scale_gate.diff({"q": _row(1.0, 2.9)}, prior, 1.5, 0.5)
    # 3.1x crosses it
    flags = scale_gate.diff({"q": _row(1.0, 3.1)}, prior, 1.5, 0.5)
    assert len(flags) == 1 and flags[0].startswith("q:")


def test_sub_threshold_sf1_never_flags():
    # a 0.1s -> 0.4s wobble is host noise even though the ratio blew up
    prior = {"q": _row(0.1, 0.1)}
    assert not scale_gate.diff({"q": _row(0.1, 0.4)}, prior, 1.5, 0.5)


def test_new_queries_without_prior_are_not_flagged():
    assert not scale_gate.diff({"new_q": _row(1.0, 9.0)}, {}, 1.5, 0.5)


def test_improvements_never_flag():
    prior = {"q": _row(1.0, 5.0)}
    assert not scale_gate.diff({"q": _row(1.0, 1.2)}, prior, 1.5, 0.5)


def test_noise_floor_prior_reading_never_flags():
    # r6 advice: a PRIOR sf1 below the noise floor carries a
    # meaningless tiny ratio — a query legitimately growing past the
    # floor must not flag against that noise-derived baseline
    prior = {"q": _row(0.2, 0.3)}  # ratio 1.5, sub-floor sf1
    assert not scale_gate.diff({"q": _row(0.2, 0.9)}, prior, 1.5, 0.5)
    # but once BOTH readings are above the floor, flags fire normally
    prior = {"q": _row(0.2, 0.6)}  # ratio 3.0
    assert scale_gate.diff({"q": _row(0.2, 2.8)}, prior, 1.5, 0.5)


def test_readings_print_every_measured_query_with_its_prior():
    new = {"b": _row(0.5, 2.0), "a": _row(1.0, 3.0)}
    prior = {"a": _row(1.0, 2.5)}
    assert scale_gate.readings(new, prior) == [
        "a: sf0.1=1.0s sf1=3.0s ratio=3.0 prior_sf1=2.5",
        "b: sf0.1=0.5s sf1=2.0s ratio=4.0 prior_sf1=-",
    ]


def test_bench_summary_merge_math():
    """bench.py's orchestrator merges per-query minima across fresh
    sessions and _summarize derives headline from the frozen set —
    pin the merge math so protocol edits can't silently change what
    the recorded number means."""
    import importlib.util as iu
    from pathlib import Path

    spec = iu.spec_from_file_location(
        "bench", Path(__file__).resolve().parent.parent / "bench.py"
    )
    bench = iu.module_from_spec(spec)
    spec.loader.exec_module(bench)

    run1 = {n: 2.0 for n in bench.HEADLINE}
    run2 = {n: 1.0 for n in bench.HEADLINE}
    run2[bench.HEADLINE[0]] = 3.0  # one query slower in the fast run
    merged = {}
    for detail in (run1, run2):
        for name, sec in detail.items():
            merged[name] = min(merged.get(name, float("inf")), sec)
    s = bench._summarize(merged, 0.1, {"runs": 2})
    # per-query min: 19 queries at 1.0 + the one that stayed at 2.0
    assert s["headline_runtime"] == 19 * 1.0 + 2.0
    assert s["value"] == s["headline_runtime"]  # only headline present
    assert s["runs"] == 2 and s["sf"] == 0.1


def test_bench_summary_partial_headline_is_not_reported():
    """A crashed child leaves holes in the merged detail; a partial
    headline sum would read as an improvement. It must be None with
    the missing names listed instead."""
    import importlib.util as iu
    from pathlib import Path

    spec = iu.spec_from_file_location(
        "bench2", Path(__file__).resolve().parent.parent / "bench.py"
    )
    bench = iu.module_from_spec(spec)
    spec.loader.exec_module(bench)

    partial = {n: 1.0 for n in bench.HEADLINE[:-2]}
    s = bench._summarize(partial, 0.1, {})
    assert s["headline_runtime"] is None
    assert s["headline_missing"] == list(bench.HEADLINE[-2:])
    full = {n: 1.0 for n in bench.HEADLINE}
    s = bench._summarize(full, 0.1, {})
    assert s["headline_runtime"] == float(len(bench.HEADLINE))
    assert "headline_missing" not in s
