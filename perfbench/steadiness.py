"""Run the benchmark over several seeds and check its spread against the
bounds in ``BENCHMARK.json``.

    # one set: N runs per workload, one result line per run into OUT
    python3 perfbench/steadiness.py run --out set1.jsonl --seeds 1-10 [--workloads ingest]
    # the spread of one set, and the drift of a second set's medians
    python3 perfbench/steadiness.py check set1.jsonl [set2.jsonl]

For every workload and end-to-end metric, ``check`` prints the distance
between the first and third quartile of the runs as a share of their
median and flags it when it exceeds the metric's bound (``setup_s`` is
exempt), or a third of the bound with ``--strict``. Given a second set
it also flags a median that is worse than the first set's by more than
the bound. Exits 1 if anything is flagged.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _config() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _seeds(spec: str) -> list[int]:
    if "-" in spec:
        a, b = spec.split("-")
        return list(range(int(a), int(b) + 1))
    return [int(x) for x in spec.split(",")]


def run(args) -> int:
    cfg = _config()
    names = args.workloads.split(",") if args.workloads else [w["name"] for w in cfg["workloads"]]
    with open(args.out, "a") as out:
        for name in names:
            for seed in _seeds(args.seeds):
                cmd = cfg["command"] + ["--workload", name, "--seed", str(seed),
                                        "--seconds", str(cfg["run_seconds"]),
                                        "--trace", "0"]
                t0 = time.perf_counter()
                proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
                wall = time.perf_counter() - t0
                lines = proc.stdout.strip().splitlines()
                rec = {"workload": name, "seed": seed, "code": proc.returncode, "wall_s": wall,
                       "result": json.loads(lines[-1]) if lines else None,
                       "detail": json.loads(lines[-2]) if len(lines) > 1 else None}
                out.write(json.dumps(rec) + "\n")
                out.flush()
                m = rec["result"]["metrics"] if rec["result"] else {}
                print(name, seed, proc.returncode, f"{wall:.1f}s",
                      {k: round(v["value"], 4) for k, v in m.items()}, flush=True)
    return 0


def _load(path: str) -> dict:
    sets: dict = {}
    with open(path) as fh:
        for line in fh:
            rec = json.loads(line)
            if rec["code"] != 0 or not rec["result"] or not rec["result"]["correct"]:
                print(f"{path}: failed run {rec['workload']} seed {rec['seed']}")
                sets.setdefault(rec["workload"], {}).setdefault("_failed", []).append(1)
                continue
            for k, v in rec["result"]["metrics"].items():
                sets.setdefault(rec["workload"], {}).setdefault(k, []).append(v["value"])
    return sets


def _walls(path: str) -> dict:
    walls: dict = {}
    with open(path) as fh:
        for line in fh:
            rec = json.loads(line)
            if "wall_s" in rec:
                walls.setdefault(rec["workload"], []).append(rec["wall_s"])
    return walls


def spread(values: list[float]) -> float:
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def check(args) -> int:
    cfg = _config()
    bounds = {m["name"]: m for m in cfg["end_to_end"]}
    first = _load(args.first)
    second = _load(args.second) if args.second else None
    bad = False
    walls = _walls(args.first)
    total = sum(statistics.mean(w) for w in walls.values())
    runs = 4 + 22 * len(walls)
    print(f"mean run wall per workload: { {k: round(statistics.mean(v), 1) for k, v in walls.items()} }"
          f"; a full evaluation's {runs} runs would take ~{runs * total / len(walls):.0f} s")
    for wl, mets in sorted(first.items()):
        if "_failed" in mets:
            bad = True
        for name, m in bounds.items():
            vals = mets.get(name, [])
            if len(vals) < 2:
                print(f"{wl:9s} {name:18s} too few runs ({len(vals)})")
                bad = True
                continue
            sp = spread(vals)
            limit = m["bound"] / 3 if args.strict else m["bound"]
            flag = name != "setup_s" and sp > limit
            line = (f"{wl:9s} {name:18s} n={len(vals):2d} median={statistics.median(vals):12.4f}"
                    f" spread={sp:6.3f} bound={m['bound']:.2f}")
            if second is not None:
                vals2 = second.get(wl, {}).get(name, [])
                if vals2:
                    m1, m2 = statistics.median(vals), statistics.median(vals2)
                    worse = (m2 - m1) / m1 if m["better"] == "lower" else (m1 - m2) / m1
                    line += f" median2={m2:12.4f} worse_by={worse:6.3f}"
                    flag = flag or worse > m["bound"]
            print(line + ("  <-- OUT OF BOUND" if flag else ""))
            bad = bad or flag
    return 1 if bad else 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("--out", required=True)
    r.add_argument("--seeds", default="1-10")
    r.add_argument("--workloads", default="")
    c = sub.add_parser("check")
    c.add_argument("first")
    c.add_argument("second", nargs="?")
    c.add_argument("--strict", action="store_true")
    args = ap.parse_args(argv)
    return run(args) if args.cmd == "run" else check(args)


if __name__ == "__main__":
    sys.exit(main())
