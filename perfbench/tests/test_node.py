"""The loopback node: skipped slots, counters and the advancing head."""

import json
import time

import chain
import harness
from node import BlockWriter, NodeProcess


def test_node_serves_blocks_skips_and_counts(tmp_path):
    c = chain.Chain(4, mean_tx=20)
    slots = list(range(1000, 1060))
    skipped = [s for s in slots if c.is_skipped(s)]
    assert skipped, "seed 4 must skip at least one of these slots"
    info = BlockWriter(4, [(20, slots)], str(tmp_path), 2).result()
    assert sorted(info) == slots
    assert all(info[s][0].blocks == 0 for s in skipped)
    node = NodeProcess(str(tmp_path), delay_ms=5, threads=2)
    try:
        served = [s for s in slots[:10] if s not in skipped][:3]
        for s in served:
            block = node.call("getBlock", s, {"encoding": "jsonParsed"})
            assert block == json.loads(c.block_json(s))["result"]
        assert node.call("getBlock", skipped[0]) is None
        st = node.call("benchStats")
        assert st["get_block"] == len(served) + 1
        assert st["blocks"] == len(served) and st["nulls"] == 1
        assert st["inflight_peak"] >= 1
        assert st["busy_s"] >= 0.005 * st["get_block"]
        assert st["bytes_out"] > 0
        node.call("benchReset")
        assert node.call("benchStats")["requests"] == 0
    finally:
        node.stop()


def test_node_head_advances_at_rate(tmp_path):
    node = NodeProcess(str(tmp_path), delay_ms=0, threads=1)
    try:
        node.call("benchHead", {"head": 500, "rate": 20.0})
        first = node.call("getSlot")
        time.sleep(0.5)
        later = node.call("getSlot")
        assert 500 <= first <= 502
        assert 7 <= later - first <= 14
        node.call("benchHead", {"head": 42, "rate": 0})
        assert node.call("getSlot") == 42
    finally:
        node.stop()
    assert node.proc.returncode == 0


def test_ncpus_positive():
    assert harness.ncpus() >= 1
