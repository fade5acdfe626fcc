"""Percentile helper, self time, metric catalogue and BENCHMARK.json."""

import json
import os
import time

import harness
import metrics


def test_tail_percentile_has_ten_beyond():
    vals = list(range(1, 101))
    p, v, n = harness.tail_percentile(vals)
    assert (p, v, n) == (90.0, 90, 100)
    assert sum(x > v for x in vals) == 10


def test_tail_percentile_odd_count():
    vals = [float(x) for x in range(37)]
    p, v, n = harness.tail_percentile(vals)
    assert n == 37 and p == 72.0
    assert sum(x > v for x in vals) >= 10
    assert sum(x > harness.nearest_rank(sorted(vals), p + 1) for x in vals) < 10


def test_tail_percentile_small_sample_is_max():
    assert harness.tail_percentile([3.0, 1.0, 2.0]) == (100.0, 3.0, 3)
    assert harness.tail_percentile(list(range(19)))[1] == 18
    assert harness.tail_percentile([]) == (0.0, 0.0, 0)


def test_self_time_subtracts_children():
    tr = harness.Tracer(True)
    with tr.span("op", "bench"):
        time.sleep(0.02)
        with tr.span("a", "load"):
            time.sleep(0.03)
    st = tr.self_time_by_layer()
    assert 0.025 <= st["load"] < 0.06
    assert 0.015 <= st["bench"] < 0.045
    assert tr.spans[1]["parent"] == tr.spans[0]["id"]
    assert {s["run"] for s in tr.spans} == {tr.run_id}


def test_disabled_tracer_records_nothing():
    tr = harness.Tracer(False)
    with tr.span("op", "bench") as s:
        assert s is None
    assert tr.spans == [] and tr.self_time_by_layer() == {}


def test_benchmark_json_matches_catalogue():
    root = os.path.dirname(harness.BENCH_DIR)
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        cfg = json.load(fh)
    assert cfg["end_to_end"] == metrics.END_TO_END
    assert cfg["per_layer"] == metrics.PER_LAYER
    names = [m["name"] for m in cfg["end_to_end"] + cfg["per_layer"]]
    assert len(names) == len(set(names))
    assert any(m["name"] == "setup_s" and m["bound"] == max(x["bound"] for x in cfg["end_to_end"])
               for m in cfg["end_to_end"])
