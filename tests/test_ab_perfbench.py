"""The paired A/B summary of ``scripts/ab_perfbench.py``: seed lists,
win counting and the parent-quartile-spread rule. No Spark."""

from __future__ import annotations

import importlib.util
import os

_spec = importlib.util.spec_from_file_location(
    "ab_perfbench",
    os.path.join(os.path.dirname(__file__), "..", "scripts", "ab_perfbench.py"),
)
ab = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(ab)

METRIC = [{"name": "op_cpu_s", "unit": "s", "better": "lower", "bound": 0.25}]


def _pairs(parent: list[float], change: list[float]) -> list[dict]:
    def res(v: float) -> dict:
        return {"metrics": {"op_cpu_s": {"value": v, "unit": "s"}}}

    return [{"parent": res(p), "change": res(c)} for p, c in zip(parent, change)]


def test_parse_seeds_ranges_and_singles():
    assert ab.parse_seeds("2-5,9") == [2, 3, 4, 5, 9]
    assert ab.parse_seeds("7") == [7]


def test_gain_claimed_only_past_parent_spread_with_nine_tenths_wins():
    parent = [6.0, 6.2, 6.4, 6.6, 6.8, 7.0, 7.2, 7.4, 7.6, 7.8]
    clear = ab.summarize(_pairs(parent, [v - 2.0 for v in parent]), METRIC)[0]
    assert "wins 10/10" in clear and "gain claimed" in clear

    # wins every pair, but by less than the parent's quartile spread
    close = ab.summarize(_pairs(parent, [v - 0.1 for v in parent]), METRIC)[0]
    assert "wins 10/10" in close and "does not clear" in close
    assert "gain not claimed" in close

    # a tie counts for neither side; two lost pairs sink the claim
    mixed = [v - 2.0 for v in parent[:8]] + [parent[8], parent[9] + 1]
    lost = ab.summarize(_pairs(parent, mixed), METRIC)[0]
    assert "wins 8/10" in lost and "gain not claimed" in lost
