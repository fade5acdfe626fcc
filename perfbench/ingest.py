"""``ingest``: continuous mode against a node whose head advances at a
fixed slot rate (open loop).

Built from the same public calls as ``cli.run --continuous``: the
``solana_rpc`` stream source in ``rpc`` mode, ``extract_transactions``,
then ``stream_upsert`` into a transactions table preloaded with history.
The stream starts a few slots before the end of the history, so those
slots are delivered twice and the upsert must keep one row per
signature. Each batch carries little new data but every commit rewrites
the whole table, so ``etl.load`` dominates.

Freshness of a slot is the time from the slot becoming final at the node
(head - 20) to the commit of the batch holding it; commit time is the
batch's ``recentProgress`` timestamp plus its ``triggerExecution``.

Once the window's slots are committed, the head jumps ``BACKLOG_SLOTS``
ahead and stops. The stream works that backlog off in full batches, and
the rate at which it does (transactions of the full batches over their
trigger time) is the throughput: in the open-loop window every rate the
program keeps up with reads the same, so only a backlog shows how fast
it can go. Once caught up the stream is idle and is stopped with no
batch in flight.
"""

from __future__ import annotations

import ast
import datetime
import os
import time
from concurrent.futures import ThreadPoolExecutor

import chain as chainmod
import harness
from node import BlockWriter, NodeProcess

MEAN_TX = 70
HISTORY_MEAN_TX = 100
HISTORY_SLOTS = 200
OVERLAP = 5
RATE = 7.0  # slots per second
FIRST_SLOT = 260_000_000
DELAY_MS = 20.0
MAX_SLOTS_PER_TRIGGER = 40
WARMUP_MAX_S = 25.0
WARMUP_BATCHES = 4
BACKLOG_SLOTS = 3 * MAX_SLOTS_PER_TRIGGER
DRAIN_MAX_S = 40.0
INITIAL_BACKLOG = 2


def prepare(ctx) -> None:
    """Before the JVM starts: generate the blocks and start the node."""
    block_dir = os.path.join(ctx.work, "blocks")
    ctx.stream_start = FIRST_SLOT + HISTORY_SLOTS - OVERLAP
    hist_end = FIRST_SLOT + HISTORY_SLOTS
    horizon = int(RATE * (WARMUP_MAX_S + ctx.seconds + 10)) + BACKLOG_SLOTS
    ctx.writer = BlockWriter(
        ctx.seed,
        [(HISTORY_MEAN_TX, range(FIRST_SLOT, hist_end)),
         (MEAN_TX, range(hist_end, hist_end + horizon))],
        block_dir, harness.ncpus())
    ctx.node = NodeProcess(block_dir, DELAY_MS, harness.ncpus())
    ctx.block_dir = block_dir


def setup(ctx) -> None:
    from pyspark.sql import functions as F

    from block_data_fetcher_spark.etl.extract import extract_transactions
    from block_data_fetcher_spark.etl.load import stream_upsert, upsert_parquet
    from block_data_fetcher_spark.sources.rpc import SolanaRpcDataSource

    spark = ctx.spark
    spark.dataSource.register(SolanaRpcDataSource)
    hist_end = FIRST_SLOT + HISTORY_SLOTS
    ctx.slot_spec = {s: spec for s, (spec, _) in ctx.writer.result().items()}
    ctx.slot_tx = {s: spec.txs for s, spec in ctx.slot_spec.items()}
    harness.log("blocks ready")
    ctx.table = os.path.join(ctx.work, "out", "transactions")
    ctx.patch = None

    def stream_txs(start: int, max_slots: int):
        stream = (spark.readStream.format("solana_rpc")
                  .option("start_slot", start)
                  .option("mode", "rpc").option("url", ctx.node.url)
                  .option("max_slots_per_trigger", max_slots).load())
        return extract_transactions(stream).withColumn("processed_at", F.current_timestamp())

    # History through the batch path, while an available-now stream over
    # the overlap slots, into a throw-away table, compiles the stream's plan.
    def history():
        raw = harness.raw_blocks(spark, ctx.block_dir).where(F.col("slot") < hist_end)
        txs = extract_transactions(raw).withColumn("processed_at", F.current_timestamp())
        return upsert_parquet(spark, txs, ctx.table, ["signature"], ["processed_at"])

    def warm_stream():
        stream_upsert(stream_txs(ctx.stream_start, OVERLAP), os.path.join(ctx.work, "warm"),
                      ["signature"], ["processed_at"],
                      checkpoint=os.path.join(ctx.work, "ckpt-warm"),
                      trigger_available_now=True).awaitTermination()

    ctx.node.call("benchHead", {"head": hist_end - 1 + chainmod.FINALITY_LAG, "rate": 0})
    with ThreadPoolExecutor(2) as pool:
        hist = pool.submit(history)
        pool.submit(warm_stream).result()
        ctx.history_rows = hist.result()
    harness.log(f"history loaded: {ctx.history_rows} rows")

    if ctx.trace:
        _install_trace_patch(ctx)
    stxs = stream_txs(ctx.stream_start, MAX_SLOTS_PER_TRIGGER)
    ctx.t_head0 = ctx.node.call("benchHead", {
        "head": ctx.stream_start + chainmod.FINALITY_LAG + INITIAL_BACKLOG, "rate": RATE})
    ctx.head0 = ctx.stream_start + chainmod.FINALITY_LAG + INITIAL_BACKLOG
    ctx.query = stream_upsert(stxs, ctx.table, ["signature"], ["processed_at"],
                              checkpoint=os.path.join(ctx.work, "ckpt"),
                              trigger_available_now=False)
    # warm-up: a few batches committed and the stream caught up
    deadline = time.time() + WARMUP_MAX_S
    while time.time() < deadline:
        if ctx.query.exception() is not None:
            raise RuntimeError(f"stream failed in warm-up: {ctx.query.exception()}")
        batches = _batches(ctx)
        head_final = _head(ctx, time.time()) - chainmod.FINALITY_LAG
        if (len(batches) >= WARMUP_BATCHES
                and head_final - batches[-1]["end"] < MAX_SLOTS_PER_TRIGGER // 2):
            break
        time.sleep(0.2)
    harness.log("warm-up batches (slots, trigger s): " + ", ".join(
        f"({b['end'] - b['first']}, {b['trigger_s']:.2f})" for b in _batches(ctx)))


def _install_trace_patch(ctx) -> None:
    """Wrap ``upsert_parquet`` as ``stream_upsert``'s batches call it:
    materialize the batch first (extract span), then upsert (load span)."""
    from block_data_fetcher_spark.etl import load

    real = load.upsert_parquet
    ctx.batch_layers = []

    def traced(spark, incoming, path, keys, order):
        if not ctx.tracing:
            return real(spark, incoming, path, keys, order)
        with ctx.tracer.span("ingest.batch", "bench"):
            with ctx.tracer.span("extract.transactions", "extract") as s1:
                cached = incoming.persist()
                n_new = cached.count()
            with ctx.tracer.span("load.upsert", "load") as s2:
                n = real(spark, cached, path, keys, order)
            cached.unpersist()
        nbytes, nfiles = harness.dir_stats(path)
        ctx.batch_layers.append({
            "extract_s": s1["end"] - s1["start"], "tx": n_new,
            "upsert_s": s2["end"] - s2["start"], "bytes": nbytes, "files": nfiles,
            "rows": n,
        })
        return n

    load.upsert_parquet = traced
    ctx.patch = (load, real)
    ctx.tracing = False


def _head(ctx, t: float) -> int:
    return ctx.head0 + int(RATE * (t - ctx.t_head0))


def _final_time(ctx, slot: int) -> float:
    lag = (slot + chainmod.FINALITY_LAG - ctx.head0) / RATE
    return ctx.t_head0 + max(0.0, lag)


def _ts(iso: str) -> float:
    return datetime.datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def _offset(o, default: int) -> int:
    """Source offsets arrive as the reader's dict, printed."""
    o = ast.literal_eval(o) if isinstance(o, str) else o
    return default if o is None else int(o["slot"])


def _batches(ctx) -> list[dict]:
    out = []
    for p in ctx.query.recentProgress:
        src = p.sources[0]
        a = _offset(src.startOffset, ctx.stream_start)
        b = _offset(src.endOffset, ctx.stream_start)
        if b <= a:
            continue
        d = p.durationMs
        out.append({
            "id": p.batchId, "first": a, "end": b,
            "commit": _ts(p.timestamp) + d.get("triggerExecution", 0) / 1000.0,
            "trigger_s": d.get("triggerExecution", 0) / 1000.0,
            "add_batch_s": d.get("addBatch", 0) / 1000.0,
            "get_batch_s": d.get("getBatch", 0) / 1000.0,
            "latest_offset_s": d.get("latestOffset", 0) / 1000.0,
        })
    return out


def measure(ctx) -> None:
    ctx.w0 = time.time()
    ctx.w1 = ctx.w0 + ctx.seconds
    if ctx.trace:
        time.sleep(ctx.seconds / 2)
        ctx.tracing = True
        ctx.t_traced = time.time()
        ctx.node.call("benchReset")
    time.sleep(max(0.0, ctx.w1 - time.time()))
    if ctx.trace:
        ctx.node_stats = ctx.node.call("benchStats")
    ctx.tracing = False
    deadline = time.time() + DRAIN_MAX_S
    # the window's slots are committed in the open loop ...
    _wait_for(ctx, max(s for s in ctx.slot_tx if _final_time(ctx, s) <= ctx.w1), deadline)
    # ... then the head jumps ahead and stops, and the stream drains
    ctx.t_drain = time.time()
    head = _head(ctx, ctx.t_drain) + BACKLOG_SLOTS
    ctx.node.call("benchHead", {"head": head, "rate": 0})
    ctx.last_final = head - chainmod.FINALITY_LAG
    ctx.drained = _wait_for(ctx, ctx.last_final, deadline)
    ctx.t_stop = time.time()
    ctx.query.stop()
    ctx.batch_list = _batches(ctx)
    harness.log("batches (slots, trigger s): " + ", ".join(
        f"({b['end'] - b['first']}, {b['trigger_s']:.2f})" for b in ctx.batch_list))


def _wait_for(ctx, slot: int, deadline: float) -> bool:
    """Wait until ``slot`` is committed; False if the deadline passes or
    the stream fails first."""
    while time.time() < deadline and ctx.query.exception() is None:
        if max((b["end"] for b in _batches(ctx)), default=0) > slot:
            return True
        time.sleep(0.1)
    return False


def _window_slots(ctx, t0: float, t1: float) -> list[int]:
    return [s for s in sorted(ctx.slot_tx) if t0 < _final_time(ctx, s) <= t1
            and s >= ctx.stream_start]


def _commit(batches, slot: int) -> float | None:
    return next((b["commit"] for b in batches if b["first"] <= slot < b["end"]), None)


def results(ctx) -> dict:
    t_split = getattr(ctx, "t_traced", ctx.w1)
    window = _window_slots(ctx, ctx.w0, ctx.w1)
    # A window slot still uncommitted when the stream stopped is a freshness
    # result, not a wrong output: it counts with the time to the stop, a
    # lower bound.
    missing = [s for s in window if _commit(ctx.batch_list, s) is None]
    fresh = [(_commit(ctx.batch_list, s) or ctx.t_stop) - _final_time(ctx, s)
             for s in window if _final_time(ctx, s) <= t_split]
    p, tail, n = harness.tail_percentile(fresh)
    drain = [b for b in ctx.batch_list if b["commit"] > ctx.t_drain
             and b["end"] - b["first"] == MAX_SLOTS_PER_TRIGGER]
    drain_tx = sum(ctx.slot_tx[s] for b in drain for s in range(b["first"], b["end"]))
    drain_s = sum(b["trigger_s"] for b in drain)
    e2e = {
        "throughput_per_s": drain_tx / drain_s if drain_s > 0 else 0.0,
        "latency_s": harness.median(fresh),
        "latency_tail_s": tail,
    }
    detail = {
        "ingest.freshness_p50_s": (e2e["latency_s"], "s"),
        "ingest.freshness_tail_s": (tail, "s"),
        "ingest.freshness_tail_percentile": (p, "pct"),
        "ingest.freshness_n": (n, "count"),
        "ingest.tx_per_s": (e2e["throughput_per_s"], "tx/s"),
        "ingest.drain_batches": (len(drain), "count"),
        "ingest.drain_tx": (drain_tx, "count"),
        "ingest.offered_tx_per_s": (
            sum(ctx.slot_tx[s] for s in window) / ctx.seconds, "tx/s"),
        "ingest.missing_slots": (len(missing), "count"),
        "ingest.slot_rate": (RATE, "1/s"),
        "ingest.history_rows": (ctx.history_rows, "count"),
    }
    in_window = [b for b in ctx.batch_list if ctx.w0 < b["commit"] <= ctx.t_drain]
    first_unfetched = max((b["end"] for b in ctx.batch_list if b["commit"] <= ctx.w1),
                          default=ctx.stream_start)
    head_final = _head(ctx, ctx.w1) - chainmod.FINALITY_LAG
    layer = {
        "stream.batches": len(in_window),
        "stream.trigger_s_p50": harness.median([b["trigger_s"] for b in in_window]),
        "stream.add_batch_s_p50": harness.median([b["add_batch_s"] for b in in_window]),
        "stream.get_batch_s_p50": harness.median([b["get_batch_s"] for b in in_window]),
        "stream.latest_offset_s_p50": harness.median(
            [b["latest_offset_s"] for b in in_window]),
        "stream.slots_per_batch_p50": harness.median(
            [b["end"] - b["first"] for b in in_window]),
        "stream.backlog_slots": max(0, head_final + 1 - first_unfetched),
    }
    bl = getattr(ctx, "batch_layers", [])
    if bl:
        layer.update({
            "extract.transactions_s": harness.median([x["extract_s"] for x in bl]),
            "extract.tx_per_s": harness.median(
                [x["tx"] / x["extract_s"] for x in bl if x["extract_s"] > 0]),
            "load.upsert_s": harness.median([x["upsert_s"] for x in bl]),
            "load.bytes_written_mb": harness.median([x["bytes"] for x in bl]) / 1e6,
            "load.write_amp": harness.median(
                [x["rows"] / max(1, x["tx"]) for x in bl]),
            "load.files": harness.median([x["files"] for x in bl]),
            "load.rows_rewritten": harness.median([x["rows"] - x["tx"] for x in bl]),
        })
        # the simple stream reader fetches while Spark asks for the latest
        # offset, so that is the source's read time
        traced_b = [b for b in in_window if ctx.t_traced < b["commit"] <= ctx.w1]
        read_s = sum(b["latest_offset_s"] for b in traced_b)
        nd = ctx.node_stats
        if read_s > 0:
            layer.update({
                "rpc.read_s": harness.median([b["latest_offset_s"] for b in traced_b]),
                "rpc.blocks_per_s": nd["blocks"] / read_s,
                "rpc.node_wait_share": nd["busy_s"] / read_s,
            })
        layer.update({
            "rpc.requests": nd["requests"],
            "rpc.skipped_slots": nd["nulls"],
            "rpc.useful_ratio": nd["blocks"] / max(1, nd["get_block"]),
            "rpc.inflight_peak": nd["inflight_peak"],
            "rpc.response_mb": nd["bytes_out"] / 1e6,
        })
        untraced = [b["trigger_s"] for b in in_window if b["commit"] <= ctx.t_traced]
        traced = [b["trigger_s"] for b in in_window if b["commit"] > ctx.t_traced]
        if untraced and traced:
            layer["trace.overhead_pct"] = 100.0 * (
                harness.median(traced) / harness.median(untraced) - 1.0)
    return {"attempted": max(1, len(window)), "e2e": e2e, "detail": detail,
            "layer": layer}


def check(ctx) -> list[str]:
    """The table must hold exactly one row per signature of the history
    plus every committed slot, with the spec's per-type counts. A stream
    stopped before it caught up may have been stopped inside a batch whose
    upsert had already landed; with the head frozen that batch's end is
    known, so the table may match either end."""
    from pyspark.sql import functions as F

    if ctx.query.exception() is not None:
        return [f"stream failed: {ctx.query.exception()}"]
    done = max((b["end"] for b in ctx.batch_list), default=ctx.stream_start)
    ends = [done]
    if not ctx.drained:
        ends.append(min(ctx.last_final + 1, done + MAX_SLOTS_PER_TRIGGER))
    df = ctx.spark.read.parquet(ctx.table)
    row = tuple(df.agg(F.count("*"), F.countDistinct("signature"),
                       F.count_if(F.col("success")), F.sum("fee")).head())
    by_type = {r[0]: r[1] for r in df.groupBy("transaction_type").count().collect()}
    errors = []
    for end in ends:
        spec = chainmod.Spec()
        for s in range(FIRST_SLOT, end):
            spec.merge(ctx.slot_spec[s])
        want = (spec.txs, spec.txs, spec.successful, spec.fees)
        errors = []
        if row != want:
            errors.append(f"table (rows, distinct, successful, fees) = {row}, spec {want}")
        if by_type != spec.by_type:
            errors.append(f"per-type counts {by_type}, spec {spec.by_type}")
        if not errors:
            break
    return errors


def teardown(ctx) -> None:
    if getattr(ctx, "writer", None) is not None:
        ctx.writer.close()
    q = getattr(ctx, "query", None)
    if q is not None and q.isActive:
        q.stop()
    if getattr(ctx, "patch", None):
        mod, real = ctx.patch
        mod.upsert_parquet = real
    node = getattr(ctx, "node", None)
    if node is not None:
        node.stop()
