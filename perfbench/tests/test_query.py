"""``query``'s end-to-end metrics: one time per operation, its median over
the passes."""

import types

import pytest

import chain
import query


def _pass(scale: float) -> dict:
    return {
        "traced": False,
        "wall": 10.0 * scale,
        "times": {"q_a": 1.0 * scale, "q_b": 2.0 * scale},
        "backfill": {"range": 0, "wall": 3.0 * scale},
        "lookups": [{"shape": s, "wall": 0.1 * scale} for s in ("x", "y", "x")],
    }


def _ctx(passes) -> types.SimpleNamespace:
    spec = chain.Spec()
    spec.txs = 900
    return types.SimpleNamespace(passes=passes, specs=[spec])


def test_operation_is_median_over_passes():
    one = query.results(_ctx([_pass(1.0)]))
    three = query.results(_ctx([_pass(0.5), _pass(1.0), _pass(4.0)]))
    # operations: q_a, q_b, backfill, lookup.x, lookup.y
    assert one["e2e"]["latency_tail_s"] == three["e2e"]["latency_tail_s"] == 3.0
    assert one["e2e"]["latency_s"] == pytest.approx(three["e2e"]["latency_s"])
    assert one["e2e"]["throughput_per_s"] == pytest.approx(6 / 10.0)
    assert three["e2e"]["throughput_per_s"] == pytest.approx(18 / 55.0)
    assert three["attempted"] == 18
    assert three["detail"]["query.ops"][0] == 5
