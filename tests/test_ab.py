"""The A/B harness's verdicts (tools/ab.py), pinned on recorded owlbench pairs.

No Spark and no subprocess: only the statistics function runs.  The first
three cases are (parent, change) run_s pairs recorded in CHANGES.md."""

from __future__ import annotations

import importlib.util
from pathlib import Path

import pytest

_spec = importlib.util.spec_from_file_location(
    "ab", Path(__file__).resolve().parent.parent / "tools" / "ab.py"
)
ab = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(ab)

# incremental_reload, seeds 31-40: the one-pass wire load against its parent
WIRE_LOAD = [(8.82, 5.95), (8.67, 6.74), (9.78, 7.21), (7.93, 4.46), (5.98, 4.51),
             (6.25, 4.86), (8.00, 5.24), (9.10, 6.00), (8.00, 6.93), (9.93, 6.40)]
# corpus_build, seeds 71-80: the graph build from checkpointed clean triples
CHECKPOINTED_BUILD = [(29.42, 26.74), (32.66, 26.46), (32.34, 28.07), (32.87, 23.91),
                      (31.74, 25.51), (33.42, 28.72), (31.75, 28.93), (31.12, 28.10),
                      (34.22, 28.50), (36.72, 29.60)]
# corpus_build, seeds 401-410: extract hands off checkpoints, first batch
EXTRACT_CHECKPOINTS = [(33.01, 34.29), (20.52, 19.50), (21.05, 20.57), (25.28, 21.85),
                       (24.88, 20.62), (27.48, 20.94), (21.30, 22.42), (23.31, 20.70),
                       (23.72, 20.77), (26.49, 22.49)]


def test_wire_load_gain_met():
    v = ab.judge(WIRE_LOAD, "lower", 0.25, 0, 0)
    assert v["wins"] == 10
    assert v["base_median"] == pytest.approx(8.335)
    assert v["change_median"] == pytest.approx(5.975)
    assert (v["base_q1"], v["base_q3"]) == (pytest.approx(7.9475), pytest.approx(9.03))
    assert v["gain"] and v["verdict"] == "gain"


def test_checkpointed_build_gain_met():
    v = ab.judge(CHECKPOINTED_BUILD, "lower", 0.25, 0, 0)
    assert v["wins"] == 10
    assert (v["base_q1"], v["base_q3"]) == (pytest.approx(31.7425), pytest.approx(33.2825))
    assert v["gain"] and v["verdict"] == "gain"


def test_eight_of_ten_wins_is_no_gain():
    v = ab.judge(EXTRACT_CHECKPOINTS, "lower", 0.25, 0, 0)
    assert v["wins"] == 8
    assert not v["gain"] and not v["regression"]
    assert v["verdict"] == "unchanged"


def test_more_failed_operations_cancel_the_gain():
    v = ab.judge(WIRE_LOAD, "lower", 0.25, failed_base=0, failed_change=1)
    assert v["wins"] == 10 and not v["gain"]


def test_spread_wider_than_bound_is_unresolved():
    # parent IQR 4.0 on a median of 10: 40% > the 25% bound, and the change
    # runs overlap the parent's, so neither parity nor a gain can be told
    pairs = [(6.0, 9.0), (8.0, 10.0), (10.0, 9.5), (12.0, 11.0), (14.0, 10.5)]
    v = ab.judge(pairs, "lower", 0.25, 0, 0)
    assert (v["base_q1"], v["base_q3"]) == (8.0, 12.0)
    assert v["unresolved"] and not v["regression"]
    assert v["verdict"] == "unresolved"
    # the same spread with every change run below every parent run resolves
    v = ab.judge([(p, c - 6.0) for p, c in pairs], "lower", 0.25, 0, 0)
    assert not v["unresolved"]


def test_failed_run_cannot_win_its_pair():
    pairs = [(10.0, 8.0)] * 9 + [(10.0, None)]
    v = ab.judge(pairs, "lower", 0.25, 0, 1)
    assert v["wins"] == 9 and not v["gain"]
