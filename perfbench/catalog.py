"""The catalog part of ``query``: a fixed subset of the ``api.queries()``
catalog, the only part of the benchmark that runs ``operators/``,
``functions/`` and ``pipelines``.

The subset is TPC-H plus the curation, dedup and similarity family. A
concurrent cold pass in setup compiles every query's code; each timed
pass then runs the subset sequentially. Results of the last pass are
checked against ``api.oracle_sql()`` through ``tests/oracle_harness.py``
after the timed region.
"""

from __future__ import annotations

import contextlib
import os
import time
from concurrent.futures import ThreadPoolExecutor

import fixture
import harness

# Two TPC-H queries: scan-aggregate (Q1) and a six-table join (Q9). All
# 22 do not fit the run-time budget of one benchmark run.
TPCH = [f"q_tpch_q{i}" for i in (1, 9)]
FAMILY = ["q_corpus_curate", "q_minhash_lsh", "q_semdedup", "q_knn_join", "q_tfidf",
          "q_pagerank"]
SUBSET = TPCH + FAMILY


def fixture_dir(ctx) -> str:
    return os.path.join(ctx.work, "fixture")


def prepare(ctx) -> None:
    fixture.generate(fixture_dir(ctx), ctx.seed)


def setup(ctx) -> None:
    from block_data_fetcher_spark import api

    ctx.queries = {name: api.queries()[name] for name in SUBSET}
    sf = fixture_dir(ctx)
    # Cold pass: the family's iterative queries share scratch directories
    # and run one after another on one thread while the TPC-H queries,
    # which share nothing, run on the others.
    def run(names):
        for name in names:
            ctx.queries[name](ctx.spark, sf).collect()

    groups = [FAMILY] + [TPCH[i::harness.ncpus() - 1 or 1] for i in range(harness.ncpus() - 1)]
    with ThreadPoolExecutor(len(groups)) as pool:
        list(pool.map(run, groups))
    harness.log("cold pass done")
    ctx.passes = []


def _module_of(fn) -> str:
    mod = getattr(fn, "__wrapped__", fn).__module__
    return mod.replace("block_data_fetcher_spark.", "")


def run_pass(ctx, traced: bool) -> dict:
    sf = fixture_dir(ctx)
    times, results = {}, {}
    t0 = time.perf_counter()
    with ctx.tracer.span("catalog.pass", "bench") if traced else contextlib.nullcontext():
        for name in SUBSET:
            fn = ctx.queries[name]
            q0 = time.perf_counter()
            if traced:
                with ctx.tracer.span(name, "catalog", module=_module_of(fn)):
                    df = fn(ctx.spark, sf)
                    rows = df.collect()
            else:
                df = fn(ctx.spark, sf)
                rows = df.collect()
            times[name] = time.perf_counter() - q0
            results[name] = ([c.lower() for c in df.columns], [tuple(r) for r in rows])
    return {"wall": time.perf_counter() - t0, "times": times, "results": results,
            "traced": traced}


def _close(a: tuple, b: tuple) -> bool:
    """Rows agree cell by cell; floats within a relative 1e-6, since the
    engines sum doubles in different orders and a rounding tie can land
    one unit of the last kept decimal apart."""
    if len(a) != len(b):
        return False
    for x, y in zip(a, b):
        if isinstance(x, float) or isinstance(y, float):
            if x is None or y is None:
                if x is not y:
                    return False
            elif abs(float(x) - float(y)) > 1e-6 * max(abs(float(x)), abs(float(y))) + 1e-12:
                return False
        elif x != y:
            return False
    return True


def _same(rows, cols, drows, dcols) -> bool:
    from tests.oracle_harness import _normalize

    if _normalize(rows, cols) == _normalize(drows, dcols):
        return True
    if len(rows) != len(drows):
        return False
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    dorder = sorted(range(len(dcols)), key=lambda i: dcols[i])
    key = lambda r: tuple((v is None, repr(v) if not isinstance(v, (int, float)) else v)  # noqa: E731
                          for v in r)
    a = sorted((tuple(r[i] for i in order) for r in rows), key=key)
    b = sorted((tuple(r[i] for i in dorder) for r in drows), key=key)
    return all(_close(x, y) for x, y in zip(a, b))


def check(ctx) -> list[str]:
    from block_data_fetcher_spark import api
    from tests.oracle_harness import duckdb_conn

    oracles = api.oracle_sql()
    con = duckdb_conn(fixture_dir(ctx))
    errors = []
    for name, (cols, rows) in ctx.passes[-1]["results"].items():
        res = con.execute(oracles[name])
        dcols = [d[0].lower() for d in res.description]
        drows = res.fetchall()
        if sorted(cols) != sorted(dcols):
            errors.append(f"{name}: columns {sorted(cols)} vs oracle {sorted(dcols)}")
        elif not _same(rows, cols, drows, dcols):
            errors.append(f"{name}: {len(rows)} rows differ from the oracle's {len(drows)}")
    con.close()
    return errors


def layer_metrics(ctx, traced_pass: dict) -> dict:
    """Per-module query time and the slowest query of a traced pass."""
    layer: dict = {}
    for name in SUBSET:
        key = f"catalog.{_module_of(ctx.queries[name])}_s"
        layer[key] = layer.get(key, 0.0) + traced_pass["times"][name]
    layer["catalog.max_query_s"] = max(traced_pass["times"].values())
    return layer
