"""The backfill part of ``query``: the batch CLI path over the loopback
JSON-RPC node.

Each operation is ``cli.run(parse_args([...]))`` over a slot range of
~1,200-tx blocks into an empty output directory. Fetch, JSON parsing and
classification do most of the work; the upsert writes once into an empty
table.

A traced operation calls the same layers one at a time with each layer's
input held in memory (source read, then ``parse_blocks`` and
``extract_transactions``, then ``upsert_parquet``, then
``extraction_stats``), so each layer gets its own span.
"""

from __future__ import annotations

import contextlib
import os
import sys
import time

import chain as chainmod
import harness

BLOCKS_PER_OP = 8
N_RANGES = 2
FIRST_SLOT = 250_000_000
WARMUP_OPS = 2
RANGES = [(FIRST_SLOT + k * 1000, FIRST_SLOT + k * 1000 + BLOCKS_PER_OP - 1)
          for k in range(N_RANGES)]
SLOTS = [s for a, b in RANGES for s in range(a, b + 1)]


def setup(ctx, info: dict) -> None:
    """Per-range specs from the block writer's result ``info``, then
    ``WARMUP_OPS`` untimed operations. ``ctx.node`` serves the blocks."""
    ctx.specs = []
    for a, b in RANGES:
        spec = chainmod.Spec()
        for slot in range(a, b + 1):
            spec.merge(info[slot][0])
        ctx.specs.append(spec)
    ctx.chunk = max(1, -(-BLOCKS_PER_OP // harness.ncpus()))
    ctx.bf_ops = []
    for i in range(WARMUP_OPS):
        cli_op(ctx, i, record=False)


def _out_dir(ctx, i: int) -> str:
    return harness.fresh_dir(os.path.join(ctx.work, "out", f"op{len(ctx.bf_ops)}_{i}"))


def cli_op(ctx, i: int, record: bool = True) -> dict:
    from block_data_fetcher_spark import cli

    a, b = RANGES[i % N_RANGES]
    out = _out_dir(ctx, i)
    argv = ["-s", str(a), "-e", str(b), "-r", ctx.node.url, "-o", out,
            "-b", str(ctx.chunk)]
    t0 = time.perf_counter()
    with contextlib.redirect_stdout(sys.stderr):
        report = cli.run(cli.parse_args(argv))
    op = {"range": i % N_RANGES, "out": out, "wall": time.perf_counter() - t0,
          "report": report, "traced": False}
    if record:
        ctx.bf_ops.append(op)
    return op


def traced_op(ctx, i: int) -> dict:
    from pyspark.sql import functions as F

    from block_data_fetcher_spark.etl.extract import (
        extract_transactions, extraction_stats, parse_blocks)
    from block_data_fetcher_spark.etl.load import upsert_parquet
    from block_data_fetcher_spark.sources.rpc import SolanaRpcDataSource

    spark, tr = ctx.spark, ctx.tracer
    spark.dataSource.register(SolanaRpcDataSource)
    a, b = RANGES[i % N_RANGES]
    out = _out_dir(ctx, i)
    layer = {}
    t0 = time.perf_counter()
    with tr.span("backfill.op", "bench"):
        ctx.node.call("benchReset")
        with tr.span("rpc.read", "rpc") as s:
            raw = (spark.read.format("solana_rpc").option("start_slot", a)
                   .option("end_slot", b).option("batch_size", ctx.chunk)
                   .option("mode", "rpc").option("url", ctx.node.url).load())
            raw = raw.persist()
            n_raw = raw.count()
        layer["rpc.read_s"] = s["end"] - s["start"]
        layer["node"] = ctx.node.call("benchStats")
        layer["rpc.blocks"] = n_raw
        with tr.span("extract.blocks", "extract") as s:
            blocks = parse_blocks(raw).withColumn("processed_at", F.current_timestamp()).persist()
            blocks.count()
        layer["extract.blocks_s"] = s["end"] - s["start"]
        with tr.span("extract.transactions", "extract") as s:
            txs = extract_transactions(raw).withColumn(
                "processed_at", F.current_timestamp()).persist()
            n_tx = txs.count()
        layer["extract.transactions_s"] = s["end"] - s["start"]
        layer["extract.tx"] = n_tx
        with tr.span("load.upsert", "load") as s:
            n_blocks = upsert_parquet(spark, blocks, f"{out}/blocks", ["slot"], ["processed_at"])
            n_txs = upsert_parquet(spark, txs, f"{out}/transactions", ["signature"],
                                   ["processed_at"])
        layer["load.upsert_s"] = s["end"] - s["start"]
        with tr.span("extract.stats", "extract") as s:
            stats = extraction_stats(spark.read.parquet(f"{out}/transactions")).head()
        layer["extract.stats_s"] = s["end"] - s["start"]
        for df in (raw, blocks, txs):
            df.unpersist()
    nbytes, nfiles = harness.dir_stats(out)
    layer.update({"load.bytes_written": nbytes, "load.files": nfiles,
                  "load.new_rows": n_blocks + n_txs})
    report = {"blocks_loaded": n_blocks, "transactions_loaded": n_txs,
              **stats.asDict()}
    op = {"range": i % N_RANGES, "out": out, "wall": time.perf_counter() - t0,
          "report": report, "traced": True, "layer": layer}
    ctx.bf_ops.append(op)
    return op


def check(ctx) -> list[str]:
    """Every operation's stats report, per-type counts, block count and
    distinct-signature count must equal the generator's spec."""
    from pyspark.sql import functions as F

    errors = []
    for n, op in enumerate(ctx.bf_ops):
        spec = ctx.specs[op["range"]]
        want = spec.report()
        got = op["report"]
        for k, v in want.items():
            g = got.get(k)
            ok = abs(float(g) - v) <= 0.006 if k == "success_rate" else g == v
            if not ok:
                errors.append(f"op {n}: {k} = {g}, spec {v}")
        txs = ctx.spark.read.parquet(f"{op['out']}/transactions")
        by_type = {r[0]: r[1] for r in txs.groupBy("transaction_type").count().collect()}
        if by_type != spec.by_type:
            errors.append(f"op {n}: per-type counts {by_type}, spec {spec.by_type}")
        distinct = txs.select(F.countDistinct("signature")).head()[0]
        if distinct != spec.txs:
            errors.append(f"op {n}: {distinct} distinct signatures, spec {spec.txs}")
        n_blocks = ctx.spark.read.parquet(f"{op['out']}/blocks").count()
        if n_blocks != spec.blocks:
            errors.append(f"op {n}: {n_blocks} blocks, spec {spec.blocks}")
    return errors


def layer_metrics(traced: list[dict]) -> dict:
    """Per-layer metrics of the fetch, extract and load layers from traced
    operations (medians over them)."""
    if not traced:
        return {}
    med = lambda key: harness.median([op["layer"][key] for op in traced])  # noqa: E731
    nodes = [op["layer"]["node"] for op in traced]
    return {
        "rpc.read_s": med("rpc.read_s"),
        "rpc.blocks_per_s": harness.median(
            [op["layer"]["rpc.blocks"] / op["layer"]["rpc.read_s"] for op in traced]),
        "rpc.requests": harness.median([nd["requests"] for nd in nodes]),
        "rpc.skipped_slots": harness.median([nd["nulls"] for nd in nodes]),
        "rpc.useful_ratio": harness.median(
            [nd["blocks"] / max(1, nd["get_block"]) for nd in nodes]),
        "rpc.inflight_peak": max(nd["inflight_peak"] for nd in nodes),
        "rpc.node_wait_share": harness.median(
            [nd["busy_s"] / op["layer"]["rpc.read_s"] for nd, op in zip(nodes, traced)]),
        "rpc.response_mb": harness.median([nd["bytes_out"] / 1e6 for nd in nodes]),
        "extract.transactions_s": med("extract.transactions_s"),
        "extract.tx_per_s": harness.median(
            [op["layer"]["extract.tx"] / op["layer"]["extract.transactions_s"]
             for op in traced]),
        "extract.blocks_s": med("extract.blocks_s"),
        "extract.stats_s": med("extract.stats_s"),
        "load.upsert_s": med("load.upsert_s"),
        "load.bytes_written_mb": med("load.bytes_written") / 1e6,
        # into an empty table every written byte belongs to a new row
        "load.write_amp": 1.0,
        "load.files": med("load.files"),
        "load.rows_rewritten": 0,
    }
