"""Loopback Solana JSON-RPC node for the benchmark.

Serves ``getBlock`` and ``getSlot`` from blocks the benchmark generated
into a cache directory (one ``<slot>.json`` response body per slot; a
missing file is a skipped slot and answers ``null``). Requests are
handled by at most ``--threads`` worker threads, each request waits a
fixed ``--delay-ms`` service delay, and the node counts requests, bytes,
the in-flight peak and its busy time (wall time with at least one
request in flight).

Control methods (JSON-RPC, same endpoint):

- ``benchHead {"head": h, "rate": r}``: from now on ``getSlot`` answers
  ``h + floor(r * seconds since the call)``; returns the call's wall time.
- ``benchStats``: the counters; ``benchReset`` zeroes them.

Run: ``python3 perfbench/node.py --blocks DIR [--delay-ms 20] [--threads 4]``;
the node prints ``PORT <n>`` once it listens on 127.0.0.1 and exits when
its stdin closes.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import subprocess
import sys
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from http.server import BaseHTTPRequestHandler, HTTPServer

_NULL_BODY = b'{"jsonrpc":"2.0","id":1,"result":null}'


class Counters:
    def __init__(self):
        self.lock = threading.Lock()
        self.inflight = 0
        self.reset()

    def reset(self):
        """Zero the totals; requests in flight stay counted."""
        self.requests = 0
        self.get_block = 0
        self.get_slot = 0
        self.blocks = 0
        self.nulls = 0
        self.bytes_out = 0
        self.inflight_peak = self.inflight
        self.busy_s = 0.0
        self.service_s = 0.0
        self._busy_since = time.perf_counter()

    def enter(self) -> float:
        now = time.perf_counter()
        with self.lock:
            if self.inflight == 0:
                self._busy_since = now
            self.inflight += 1
            self.inflight_peak = max(self.inflight_peak, self.inflight)
        return now

    def leave(self, started: float, method: str, nbytes: int, null: bool):
        now = time.perf_counter()
        with self.lock:
            self.inflight -= 1
            if self.inflight == 0:
                self.busy_s += now - self._busy_since
            self.requests += 1
            self.service_s += now - started
            self.bytes_out += nbytes
            if method == "getBlock":
                self.get_block += 1
                if null:
                    self.nulls += 1
                else:
                    self.blocks += 1
            elif method == "getSlot":
                self.get_slot += 1

    def snapshot(self) -> dict:
        with self.lock:
            return {
                "requests": self.requests,
                "get_block": self.get_block,
                "get_slot": self.get_slot,
                "blocks": self.blocks,
                "nulls": self.nulls,
                "bytes_out": self.bytes_out,
                "inflight_peak": self.inflight_peak,
                "busy_s": self.busy_s,
                "service_s": self.service_s,
            }


class Node:
    def __init__(self, block_dir: str, delay_s: float):
        self.block_dir = block_dir
        self.delay_s = delay_s
        self.counters = Counters()
        self._cache: dict[int, bytes | None] = {}
        self.head0 = 0
        self.rate = 0.0
        self.t0 = time.time()

    def block_body(self, slot: int) -> bytes | None:
        if slot not in self._cache:
            path = os.path.join(self.block_dir, f"{slot}.json")
            try:
                with open(path, "rb") as fh:
                    self._cache[slot] = fh.read()
            except FileNotFoundError:
                self._cache[slot] = None
        return self._cache[slot]

    def head(self) -> int:
        return self.head0 + math.floor(self.rate * (time.time() - self.t0))

    def handle(self, req: dict) -> tuple[str, bytes, bool]:
        method = req.get("method")
        params = req.get("params") or []
        rid = req.get("id", 1)
        if method == "getBlock":
            body = self.block_body(int(params[0]))
            return method, body or _NULL_BODY, body is None
        if method == "getSlot":
            result = self.head()
        elif method == "benchHead":
            self.head0 = int(params[0]["head"])
            self.rate = float(params[0]["rate"])
            self.t0 = time.time()
            result = self.t0
        elif method == "benchStats":
            result = self.counters.snapshot()
        elif method == "benchReset":
            with self.counters.lock:
                self.counters.reset()
            result = True
        else:
            err = {"code": -32601, "message": f"method not found: {method}"}
            return method, json.dumps({"jsonrpc": "2.0", "id": rid, "error": err}).encode(), False
        return method, json.dumps({"jsonrpc": "2.0", "id": rid, "result": result}).encode(), False


def make_handler(node: Node):
    class Handler(BaseHTTPRequestHandler):
        def do_POST(self):
            n = int(self.headers.get("Content-Length", 0))
            req = json.loads(self.rfile.read(n))
            control = str(req.get("method", "")).startswith("bench")
            started = None if control else node.counters.enter()
            method, body, null = "?", b"", False
            try:
                if not control and node.delay_s:
                    time.sleep(node.delay_s)
                method, body, null = node.handle(req)
                self.send_response(200)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)
            except (BrokenPipeError, ConnectionResetError):
                pass  # the client went away (a stopped stream)
            finally:
                if not control:
                    node.counters.leave(started, method, len(body), null)

        def log_message(self, *args):
            pass

    return Handler


class PooledHTTPServer(HTTPServer):
    """HTTP server whose requests run on a fixed pool of worker threads."""

    daemon_threads = True
    request_queue_size = 64

    def __init__(self, addr, handler, threads: int):
        super().__init__(addr, handler)
        self.pool = ThreadPoolExecutor(max_workers=threads)

    def process_request(self, request, client_address):
        self.pool.submit(self._work, request, client_address)

    def _work(self, request, client_address):
        try:
            self.finish_request(request, client_address)
        except Exception:
            self.handle_error(request, client_address)
        finally:
            self.shutdown_request(request)

    def server_close(self):
        super().server_close()
        self.pool.shutdown(wait=True)


def _write_chunk(args) -> dict:
    seed, slots, block_dir, sample_every = args
    import chain as chainmod

    chains = {}
    out = {}
    for mean_tx, slot in slots:
        if mean_tx not in chains:
            chains[mean_tx] = chainmod.Chain(seed, mean_tx)
        block = chains[mean_tx].block(slot)
        spec = chainmod.Spec()
        spec.add_block(slot, block)
        sample = []
        if block is not None:
            with open(os.path.join(block_dir, f"{slot}.json"), "wb") as fh:
                fh.write(json.dumps({"jsonrpc": "2.0", "id": 1, "result": block},
                                    separators=(",", ":")).encode())
            sample = [tx["signatures"][0] for tx in block["transactions"][::sample_every]]
        out[slot] = (spec, sample)
    return out


class BlockWriter:
    """Generate each slot's ``getBlock`` body into ``block_dir`` (skipped
    slots get no file) on ``workers`` forked processes, in the background.
    ``result()`` waits and returns ``{slot: (Spec of that slot, sample of
    its signatures)}``. Start it before the JVM so that generation overlaps
    the JVM's start; the workers are forked while the process has no
    threads yet, which keeps fork safe and avoids spawn's re-imports."""

    def __init__(self, seed: int, ranges, block_dir: str, workers: int,
                 sample_every: int = 50):
        """``ranges``: ``(mean_tx, slots)`` pairs."""
        import multiprocessing

        os.makedirs(block_dir, exist_ok=True)
        slots = [(mean_tx, s) for mean_tx, r in ranges for s in r]
        chunks = [(seed, slots[i::workers], block_dir, sample_every)
                  for i in range(workers)]
        self.pool = multiprocessing.get_context("fork").Pool(workers)
        self.pending = self.pool.map_async(_write_chunk, chunks)

    def result(self) -> dict:
        try:
            parts = self.pending.get()
        finally:
            self.close()
        out = {}
        for part in parts:
            out.update(part)
        return out

    def close(self) -> None:
        if self.pool is not None:
            self.pool.terminate()
            self.pool.join()
            self.pool = None


class NodeProcess:
    """The node in its own process, with a small JSON-RPC client."""

    def __init__(self, block_dir: str, delay_ms: float, threads: int):
        self.proc = subprocess.Popen(
            [sys.executable, os.path.abspath(__file__), "--blocks", block_dir,
             "--delay-ms", str(delay_ms), "--threads", str(threads)],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
        )
        line = self.proc.stdout.readline().split()
        if len(line) != 2 or line[0] != "PORT":
            self.stop()
            raise RuntimeError("loopback node failed to start")
        self.url = f"http://127.0.0.1:{line[1]}"

    def call(self, method: str, *params):
        import urllib.request

        payload = json.dumps({"jsonrpc": "2.0", "id": 1, "method": method,
                              "params": list(params)}).encode()
        req = urllib.request.Request(self.url, data=payload,
                                     headers={"Content-Type": "application/json"})
        with urllib.request.urlopen(req, timeout=30) as resp:
            return json.load(resp)["result"]

    def stop(self) -> None:
        if self.proc.poll() is None:
            try:
                self.proc.stdin.close()
                self.proc.wait(timeout=10)
            except Exception:
                self.proc.kill()
                self.proc.wait()
        self.proc.stdout.close()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--blocks", required=True)
    ap.add_argument("--delay-ms", type=float, default=20.0)
    ap.add_argument("--threads", type=int, default=os.cpu_count() or 1)
    args = ap.parse_args(argv)
    node = Node(args.blocks, args.delay_ms / 1000.0)
    server = PooledHTTPServer(("127.0.0.1", 0), make_handler(node), args.threads)
    thread = threading.Thread(target=server.serve_forever, daemon=True)
    thread.start()
    print(f"PORT {server.server_address[1]}", flush=True)
    sys.stdin.read()  # the parent closes stdin to stop the node
    server.shutdown()
    server.server_close()
    return 0


if __name__ == "__main__":
    sys.exit(main())
