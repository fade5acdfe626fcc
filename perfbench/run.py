"""Benchmark entry point.

    python3 perfbench/run.py --workload {ingest,query}
        --seed N --seconds S --trace {0,1}

Run from the root of a checkout. Builds its inputs from ``--seed``,
measures for ``--seconds``, checks every output, prints one line of
workload-specific detail (the metric names of the README) and, as the
last line, the JSON result: end-to-end metrics with ``--trace 0``,
per-layer metrics with ``--trace 1``. Exits 1 on any correctness
mismatch and 2 on any other failure.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import signal
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import harness  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ("ingest", "query")


class Ctx:
    def __init__(self, args):
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.work = os.path.join(harness.STATE, "work", f"{args.workload}-{os.getpid()}")
        self.tracer = harness.Tracer(self.trace)
        self.spark = None


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    t_setup = time.perf_counter()
    # a terminated run still stops the node, the stream and the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(3))
    ctx = Ctx(args)
    wl = importlib.import_module(args.workload)
    sf_dir = (wl.fixture_dir(ctx) if hasattr(wl, "fixture_dir")
              else os.path.join(ctx.work, "no-fixture"))
    env = harness.pin_env(ctx.work, sf_dir)
    code = 2
    try:
        try:
            import block_data_fetcher_spark  # noqa: F401
        except ImportError as e:
            harness.log(f"program not found (run from the root of a checkout): {e}")
            return 2
        wl.prepare(ctx)
        ctx.spark, start_s, warmup_s = harness.start_spark()
        wl.setup(ctx)
        setup_s = time.perf_counter() - t_setup
        harness.log(f"setup done in {setup_s:.1f}s; measuring {ctx.seconds}s")
        wl.measure(ctx)
        res = wl.results(ctx)
        errors = wl.check(ctx)
        rss = harness.peak_rss_mb(ctx.spark)
        for e in errors[:20]:
            harness.log(f"MISMATCH {e}")
        failed = min(res["attempted"], res.get("failed", 0) + len(errors))
        layer = {
            "session.start_s": start_s,
            "session.warmup_s": warmup_s,
            **res["layer"],
            **{f"self.{k}_s": v for k, v in ctx.tracer.self_time_by_layer().items()},
            "trace.spans": len(ctx.tracer.spans),
        }
        e2e = {"setup_s": setup_s, "peak_rss_mb": rss, **res["e2e"]}
        detail = {
            "run": {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
                    "trace": args.trace, "master": ctx.spark.sparkContext.master,
                    "spark_version": ctx.spark.version, "env": env,
                    "error_rate": failed / max(1, res["attempted"])},
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in res["detail"].items()},
        }
        print(json.dumps(detail, default=str), flush=True)
        ctx.tracer.write(os.path.join(harness.STATE, "traces", f"{ctx.tracer.run_id}.json"))
        chosen = metrics.PER_LAYER if ctx.trace else metrics.END_TO_END
        values = layer if ctx.trace else e2e
        out = {
            "correct": not errors,
            "attempted": int(res["attempted"]),
            "failed": int(failed),
            "metrics": {m["name"]: {"value": float(values.get(m["name"], 0.0)),
                                    "unit": m["unit"]} for m in chosen},
        }
        print(json.dumps(out), flush=True)
        code = 0 if not errors else 1
    except Exception:
        traceback.print_exc()
        code = 2
    finally:
        try:
            wl.teardown(ctx)
        finally:
            if ctx.spark is not None:
                harness.stop_spark(ctx.spark)
            shutil.rmtree(ctx.work, ignore_errors=True)
    return code


if __name__ == "__main__":
    sys.exit(main())
