"""Shared plumbing: run environment, Spark start/stop, memory, spans,
percentiles and files."""

from __future__ import annotations

import contextlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
import uuid

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
STATE = os.path.join(ROOT, ".perfbench")
# Heap of the driver JVM, also its initial size: a heap that starts at its
# limit makes peak RSS independent of when the collector decides to grow.
DRIVER_MEM = "2g"


def ncpus() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def pin_env(work: str, sf_dir: str) -> dict:
    """Pin the environment the program reads, before pyspark starts.

    What the run writes lands under ``work`` (inside the checkout):
    Spark's local dirs, the program's scratch, temp files, the JVM's temp
    dir."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(sf_dir, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(ncpus()),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_GRAFT_SF_DIR": sf_dir,
        "SPARK_DRIVER_MEM": DRIVER_MEM,
        "BDF_SCRATCH_BASE": os.path.join(work, "scratch"),
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
        ),
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_SUBMIT_ARGS": (f"--driver-java-options -Xms{DRIVER_MEM} "
                                "--conf spark.ui.showConsoleProgress=false pyspark-shell"),
    }
    os.environ.update(env)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    import tempfile

    tempfile.tempdir = tmp
    return env


def start_spark():
    """``session.get_spark`` plus one trivial job; returns
    ``(spark, start_s, warmup_s)``."""
    t0 = time.perf_counter()
    from block_data_fetcher_spark.session import get_spark

    spark = get_spark("perfbench")
    t1 = time.perf_counter()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).selectExpr("sum(id)").collect()
    t2 = time.perf_counter()
    return spark, t1 - t0, t2 - t1


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    try:
        gateway.shutdown()
    except Exception:
        pass
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=20)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(spark) -> float:
    """Peak resident set of the Spark JVM plus this driver process."""
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    return (_vm_hwm_kb(int(jvm_pid)) + _vm_hwm_kb(os.getpid())) / 1024.0


# --- statistics -------------------------------------------------------


def median(values) -> float:
    return statistics.median(values) if values else 0.0


def nearest_rank(sorted_values, p: float) -> float:
    k = max(1, math.ceil(p / 100.0 * len(sorted_values)))
    return sorted_values[k - 1]


def tail_percentile(values, min_beyond: int = 10) -> tuple[float, float, int]:
    """The highest whole percentile with at least ``min_beyond`` samples
    above it (nearest-rank), as ``(percentile, value, n)``. When that
    percentile would not lie above the median (fewer than
    ``2 * min_beyond`` samples) the tail is the maximum, reported as
    percentile 100."""
    v = sorted(values)
    n = len(v)
    if n == 0:
        return 0.0, 0.0, 0
    if n < 2 * min_beyond:
        return 100.0, v[-1], n
    p = math.floor(100.0 * (n - min_beyond) / n)
    while p > 0 and n - math.ceil(p * n / 100.0) < min_beyond:
        p -= 1
    return float(p), nearest_rank(v, p), n


def geomean(values) -> float:
    vals = [v for v in values if v > 0]
    if not vals:
        return 0.0
    return math.exp(sum(math.log(v) for v in vals) / len(vals))


# --- spans ------------------------------------------------------------


class Tracer:
    """In-memory spans: name, layer, start, end, parent, run id."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex
        self.spans: list[dict] = []
        self._local = threading.local()

    @contextlib.contextmanager
    def span(self, name: str, layer: str, **attrs):
        if not self.enabled:
            yield None
            return
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        rec = {
            "id": len(self.spans),
            "name": name,
            "layer": layer,
            "parent": stack[-1]["id"] if stack else None,
            "run": self.run_id,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()

    def self_time_by_layer(self) -> dict[str, float]:
        """Each span's duration minus the part its children cover, summed
        per layer."""
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            if s["end"] is None:
                continue
            covered = _union_length(
                [(c["start"], c["end"]) for c in children.get(s["id"], []) if c["end"]]
            )
            out[s["layer"]] = out.get(s["layer"], 0.0) + (s["end"] - s["start"]) - covered
        return out

    def write(self, path: str) -> None:
        if not self.enabled:
            return
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"run": self.run_id, "spans": self.spans}, fh)


def _union_length(intervals) -> float:
    total, end = 0.0, -math.inf
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def raw_blocks(spark, block_dir: str):
    """``(slot, raw)`` rows from the node's response bodies on disk."""
    from pyspark.sql import functions as F

    return spark.read.text(block_dir, wholetext=True).select(
        F.regexp_extract(F.input_file_name(), r"(\d+)\.json$", 1).cast("long").alias("slot"),
        F.get_json_object("value", "$.result").alias("raw"),
    )


# --- files ------------------------------------------------------------


def dir_stats(path: str) -> tuple[int, int]:
    """(bytes, number of parquet files) under ``path``."""
    nbytes = nfiles = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            nbytes += os.path.getsize(os.path.join(root, f))
            nfiles += f.endswith(".parquet")
    return nbytes, nfiles


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


_T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - _T0:6.1f}s] {msg}", file=sys.stderr, flush=True)
