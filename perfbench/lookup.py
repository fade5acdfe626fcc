"""The lookup part of ``query``: a seeded, Zipf-keyed sequence of the
query shapes the reference's migrations index, issued one at a time
through ``spark.sql`` over the parquet tables ``etl.load`` wrote.

Setup extracts blocks, transactions, instructions and accounts from the
generated blocks with ``etl.extract`` and writes them with
``upsert_parquet``. No fetch or extract runs in the timed loop: planning
and the parquet scan dominate. Every issued query is checked afterwards
against DuckDB over the same parquet files.
"""

from __future__ import annotations

import os
import random
import time
from concurrent.futures import ThreadPoolExecutor

import chain as chainmod
import harness
import metrics

FIRST_SLOT = 270_000_000
SLOTS = range(FIRST_SLOT, FIRST_SLOT + 20)
# One round issues each shape once, in a seeded order.
ROUND = metrics.LOOKUP_SHAPES


def write_tables(ctx, info: dict) -> None:
    """Extract and upsert the four tables from the generated blocks of
    ``SLOTS`` (``info``: the block writer's result), register them as
    views and plan the seeded query sequence."""
    from pyspark.sql import functions as F

    from block_data_fetcher_spark.etl.extract import (
        account_activity, extract_instructions, extract_transactions, parse_blocks)
    from block_data_fetcher_spark.etl.load import upsert_parquet

    spark = ctx.spark
    sigs = [s for slot in SLOTS for s in info[slot][1]]
    chain = chainmod.Chain(ctx.seed)
    raw = (harness.raw_blocks(spark, ctx.block_dir)
           .where(F.col("slot").between(SLOTS[0], SLOTS[-1])).persist())
    now = F.current_timestamp()
    frames = {
        "blocks": (parse_blocks(raw), ["slot"]),
        "transactions": (extract_transactions(raw).drop("program_ids"), ["signature"]),
        "instructions": (extract_instructions(raw), ["transaction_signature",
                                                     "instruction_index"]),
        "accounts": (account_activity(raw), ["address"]),
    }
    ctx.paths = {name: os.path.join(ctx.work, "tables", name) for name in frames}

    def write(name):
        df, keys = frames[name]
        upsert_parquet(spark, df.withColumn("processed_at", now), ctx.paths[name], keys,
                       ["processed_at"])

    raw.count()
    with ThreadPoolExecutor(len(frames)) as pool:
        list(pool.map(write, frames))
    for name, path in ctx.paths.items():
        spark.read.parquet(path).createOrReplaceTempView(name)
    raw.unpersist()
    harness.log("tables written")
    ctx.plan = _plan(ctx.seed, sigs, chain)
    ctx.ops = []


def warm(ctx) -> None:
    for shape in metrics.LOOKUP_SHAPES:
        sql = next(q for s, q in ctx.plan if s == shape)
        ctx.spark.sql(sql).collect()


def _plan(seed: int, sigs: list[str], chain) -> list[tuple[str, str]]:
    """A seeded sequence of (shape, sql): rounds of the shapes in
    ``ROUND`` in a seeded order, so each run issues the same mix; keys are
    Zipf-skewed."""
    rng = random.Random(f"lookup:{seed}")
    order = sigs[:]
    rng.shuffle(order)
    sig_cdf = chainmod.zipf_cdf(len(order), chainmod.ZIPF_S)
    signer_cdf = chainmod.zipf_cdf(chainmod.N_SIGNERS, chainmod.ZIPF_S)
    last = SLOTS[-1]
    out = []
    for _ in range(500):
        shapes = list(ROUND)
        rng.shuffle(shapes)
        for shape in shapes:
            a = rng.randrange(FIRST_SLOT, last - 4)
            b = a + rng.randrange(1, 5)
            sig = order[chainmod.zipf_draw(rng, sig_cdf)]
            signer = chain.signers[chainmod.zipf_draw(rng, signer_cdf)]
            out.append((shape, _sql(shape, a, b, sig, signer)))
    return out


def _sql(shape: str, a: int, b: int, sig: str, signer: str) -> str:
    if shape == "tx_by_signature":
        return ("SELECT signature, block_slot, transaction_index, success, fee, "
                f"transaction_type, signer FROM transactions WHERE signature = '{sig}'")
    if shape == "recent_by_signer":
        return ("SELECT signature, block_slot, transaction_index, fee, transaction_type "
                f"FROM transactions WHERE signer = '{signer}' "
                "ORDER BY block_slot DESC, transaction_index DESC LIMIT 20")
    if shape == "slot_range":
        return ("SELECT count(*) AS n, sum(fee) AS fees, count(DISTINCT signer) AS signers "
                f"FROM transactions WHERE block_slot BETWEEN {a} AND {b}")
    if shape == "type_distribution":
        return ("SELECT transaction_type, count(*) AS n FROM transactions "
                f"WHERE block_slot BETWEEN {a} AND {b} GROUP BY transaction_type")
    if shape == "failed_in_range":
        return ("SELECT signature, block_slot, fee FROM transactions "
                f"WHERE NOT success AND block_slot BETWEEN {a} AND {b}")
    if shape == "block_with_txs":
        return ("SELECT b.slot, b.blockhash, t.signature, t.transaction_type "
                "FROM blocks b JOIN transactions t ON t.block_slot = b.slot "
                f"WHERE b.slot = {a}")
    if shape == "account_activity":
        return ("SELECT address, first_seen_slot, last_seen_slot, transaction_count, "
                f"as_signer_count FROM accounts WHERE address = '{signer}'")
    if shape == "top_programs":
        return ("SELECT program_id, count(*) AS n FROM instructions "
                "GROUP BY program_id ORDER BY n DESC, program_id LIMIT 10")
    raise ValueError(shape)


def _scan_metrics(df) -> tuple[int, int]:
    """(rows the parquet scans produced, files they read) for an executed
    DataFrame, from the SQL metrics of its final physical plan."""
    rows = files = 0
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        name = node.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        if name.endswith("QueryStageExec"):
            stack.append(node.plan())
            continue
        if name == "FileSourceScanExec":
            m = node.metrics()
            if m.contains("numOutputRows"):
                rows += m.apply("numOutputRows").value()
            if m.contains("numFiles"):
                files += m.apply("numFiles").value()
        children = node.children()
        for i in range(children.size()):
            stack.append(children.apply(i))
    return rows, files


def run_op(ctx, shape: str, sql: str, traced: bool) -> None:
    spark = ctx.spark
    t0 = time.perf_counter()
    if not traced:
        rows = spark.sql(sql).collect()
        ctx.ops.append({"shape": shape, "sql": sql, "wall": time.perf_counter() - t0,
                        "rows": rows, "traced": False})
        return
    tr = ctx.tracer
    with tr.span(f"lookup.{shape}", "bench"):
        with tr.span("lookup.plan", "lookup") as sp:
            df = spark.sql(sql)
            df._jdf.queryExecution().executedPlan()
        with tr.span("lookup.exec", "lookup") as se:
            rows = df.collect()
    scanned, files = _scan_metrics(df)
    ctx.ops.append({"shape": shape, "sql": sql, "wall": time.perf_counter() - t0,
                    "rows": rows, "traced": True,
                    "plan_s": sp["end"] - sp["start"], "exec_s": se["end"] - se["start"],
                    "scanned": scanned, "files": files})


def _norm(rows) -> list[tuple]:
    out = []
    for r in rows:
        out.append(tuple(round(v, 6) if isinstance(v, float) else v for v in r))
    return sorted(out, key=repr)


def check(ctx) -> list[str]:
    """Each distinct issued query must return what DuckDB returns over the
    same parquet files."""
    import duckdb

    con = duckdb.connect()
    for name, path in ctx.paths.items():
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}/*.parquet')")
    errors, seen = [], {}
    for op in ctx.ops:
        if op["sql"] not in seen:
            seen[op["sql"]] = _norm(con.execute(op["sql"]).fetchall())
        got = _norm([tuple(r) for r in op["rows"]])
        if got != seen[op["sql"]]:
            errors.append(f"{op['shape']}: spark {got[:3]} vs duckdb {seen[op['sql']][:3]}")
    con.close()
    return errors


def layer_metrics(traced: list[dict]) -> dict:
    """Per-layer metrics of the lookup path from traced operations."""
    if not traced:
        return {}
    layer = {f"lookup.{shape}.p50_s": harness.median(
        [op["wall"] for op in traced if op["shape"] == shape]) for shape in metrics.LOOKUP_SHAPES}
    layer.update({
        "lookup.plan_s_p50": harness.median([op["plan_s"] for op in traced]),
        "lookup.exec_s_p50": harness.median([op["exec_s"] for op in traced]),
        "lookup.rows_scanned_per_row": sum(op["scanned"] for op in traced)
        / max(1, sum(len(op["rows"]) for op in traced)),
        "lookup.files_read_p50": harness.median([op["files"] for op in traced]),
    })
    return layer
