"""``query``: the engine loading blocks and serving queries.

Whole sequential warm passes while ``--seconds`` have not passed (at least
one). Each pass
runs the catalog subset of ``catalog.py`` (TPC-H plus the curation,
dedup and similarity family: ``operators/``, ``functions/``,
``pipelines``), then one ``backfill.py`` operation (``cli.run`` against
the loopback node: ``sources.rpc``, ``etl.extract``, ``etl.load``), then
``LOOKUP_ROUNDS`` seeded rounds of the ``lookup.py`` shapes (``spark.sql`` planning plus
the parquet scan over the tables ``etl.load`` wrote). Setup writes the
lookup tables while the catalog's cold pass compiles. Catalog results are
checked against the oracle, backfill reports and tables against the
generator's spec and lookup results against DuckDB, after the timed
region.
"""

from __future__ import annotations

import os
import time
from concurrent.futures import ThreadPoolExecutor

import backfill
import catalog
import harness
import lookup
from node import BlockWriter, NodeProcess

MEAN_TX = 1200  # the reference's block size
DELAY_MS = 20.0
LOOKUP_ROUNDS = 3
PASS_LOOKUPS = LOOKUP_ROUNDS * len(lookup.ROUND)


def fixture_dir(ctx) -> str:
    return catalog.fixture_dir(ctx)


def prepare(ctx) -> None:
    """Before the JVM starts: generate the blocks, start the node and
    write the catalog fixture."""
    ctx.block_dir = os.path.join(ctx.work, "blocks")
    slots = list(lookup.SLOTS) + backfill.SLOTS
    ctx.writer = BlockWriter(ctx.seed, [(MEAN_TX, slots)], ctx.block_dir, harness.ncpus(),
                             sample_every=25)
    ctx.node = NodeProcess(ctx.block_dir, DELAY_MS, harness.ncpus())
    catalog.prepare(ctx)


def setup(ctx) -> None:
    info = ctx.writer.result()
    harness.log("blocks ready")

    def load():
        lookup.write_tables(ctx, info)
        backfill.setup(ctx, info)
        harness.log("backfill warmed up")

    with ThreadPoolExecutor(1) as pool:
        loaded = pool.submit(load)
        catalog.setup(ctx)
        loaded.result()
    lookup.warm(ctx)


def _pass(ctx, k: int, traced: bool) -> dict:
    t0 = time.perf_counter()
    p = catalog.run_pass(ctx, traced)
    p["backfill"] = (backfill.traced_op if traced else backfill.cli_op)(ctx, k)
    first = len(ctx.ops)
    for shape, sql in ctx.plan[k * PASS_LOOKUPS:(k + 1) * PASS_LOOKUPS]:
        lookup.run_op(ctx, shape, sql, traced)
    p["lookups"] = ctx.ops[first:]
    p["wall"] = time.perf_counter() - t0
    return p


def measure(ctx) -> None:
    if ctx.trace:
        ctx.passes.append(_pass(ctx, 0, traced=False))
        ctx.passes.append(_pass(ctx, 1, traced=True))
        return
    start = time.perf_counter()
    while not ctx.passes or time.perf_counter() - start < ctx.seconds:
        ctx.passes.append(_pass(ctx, len(ctx.passes), traced=False))


def check(ctx) -> list[str]:
    return catalog.check(ctx) + backfill.check(ctx) + lookup.check(ctx)


def _op_times(passes: list[dict]) -> dict[str, list[float]]:
    """Execution times per operation: each catalog query, the backfill run
    and each lookup shape."""
    out: dict[str, list[float]] = {}
    for p in passes:
        for name, t in p["times"].items():
            out.setdefault(name, []).append(t)
        out.setdefault("backfill", []).append(p["backfill"]["wall"])
        for op in p["lookups"]:
            out.setdefault(f"lookup.{op['shape']}", []).append(op["wall"])
    return out


def results(ctx) -> dict:
    plain = [p for p in ctx.passes if not p["traced"]]
    traced = [p for p in ctx.passes if p["traced"]]
    # each operation's median over its executions, so that the metrics mean
    # the same whatever the number of passes
    executions = _op_times(plain)
    times = [harness.median(ts) for ts in executions.values()]
    wall = sum(p["wall"] for p in plain)
    pct, tail, n = harness.tail_percentile(times)
    e2e = {
        "throughput_per_s": sum(map(len, executions.values())) / wall,
        "latency_s": harness.geomean(times),
        "latency_tail_s": tail,
    }
    cat_times = [t for p in plain for t in p["times"].values()]
    bf = [p["backfill"] for p in plain]
    bf_tx = sum(ctx.specs[op["range"]].txs for op in bf)
    lk_times = [op["wall"] for p in plain for op in p["lookups"]]
    lp, ltail, ln = harness.tail_percentile(lk_times)
    detail = {
        "query.ops_per_s": (e2e["throughput_per_s"], "1/s"),
        "query.geomean_s": (e2e["latency_s"], "s"),
        "query.tail_s": (tail, "s"),
        "query.tail_percentile": (pct, "pct"),
        "query.ops": (n, "count"),
        "query.passes": (len(plain), "count"),
        "catalog.wall_s": (sum(sum(p["times"].values()) for p in plain) / len(plain), "s"),
        "catalog.geomean_s": (harness.geomean(cat_times), "s"),
        "backfill.tx_per_s": (bf_tx / sum(op["wall"] for op in bf), "tx/s"),
        "backfill.tx_per_op": (bf_tx / len(bf), "count"),
        "lookup.p50_s": (harness.median(lk_times), "s"),
        "lookup.tail_s": (ltail, "s"),
        "lookup.tail_percentile": (lp, "pct"),
        "lookup.n": (ln, "count"),
        "lookup.qps": (len(lk_times) / sum(lk_times), "1/s"),
    }
    layer = {}
    if traced:
        layer.update(catalog.layer_metrics(ctx, traced[-1]))
        layer.update(backfill.layer_metrics([traced[-1]["backfill"]]))
        layer.update(lookup.layer_metrics(traced[-1]["lookups"]))
        layer["trace.overhead_pct"] = 100.0 * (traced[-1]["wall"] / plain[-1]["wall"] - 1.0)
    return {"attempted": sum(map(len, _op_times(ctx.passes).values())), "e2e": e2e,
            "detail": detail, "layer": layer}


def teardown(ctx) -> None:
    if getattr(ctx, "writer", None) is not None:
        ctx.writer.close()
    node = getattr(ctx, "node", None)
    if node is not None:
        node.stop()
