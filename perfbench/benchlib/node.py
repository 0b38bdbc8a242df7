"""Mock JSON-RPC node: the benchmark's own load-generator process.

It generates the evm_ingest chain from the seed, precomputes every
block's ``eth_getLogs`` bytes, and answers ``eth_blockNumber`` and
``eth_getLogs`` from them. The head is fixed at the backlog until
``bench_follow`` starts the open-loop schedule: block ``head0 + k`` is
due at ``t0 + k * interval`` and the head is computed from the clock,
so a slow client never slows the schedule. ``bench_freeze`` stops
releasing blocks; ``bench_stats`` reports request and byte counts, the
time spent serving, and the node's own lateness. The node never refuses
a window: a refused window reads as zero rows in the engine, which the
correctness check would then flag.

Run: python3 node.py --seed N --port-file PATH   (binds 127.0.0.1, port 0)
"""
import argparse
import json
import os
import sys
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from benchlib import gen  # noqa: E402


class State:
    def __init__(self, seed):
        inputs = gen.IngestInputs(seed)
        chain = inputs.chain
        self.blocks = {b: ",".join(gen.wire(l) for l in chain.blocks[b]).encode()
                       for b in range(chain.first_block, chain.last_block + 1)}
        self.first = chain.first_block
        self.last = chain.last_block
        self.head0 = inputs.backlog_head
        self.t0 = None
        self.interval = None
        self.frozen = None
        self.lock = threading.Lock()
        self.stats = {"requests": 0, "bytes": 0, "errors": 0, "serve_ns": 0,
                      "get_logs": 0, "get_logs_empty": 0, "block_number": 0}
        self.serve_ms = []

    def head(self):
        if self.frozen is not None:
            return self.frozen
        if self.t0 is None:
            return self.head0
        k = int((time.time() - self.t0) * 1000.0 // self.interval)
        return min(self.last, self.head0 + k)


class Handler(BaseHTTPRequestHandler):
    protocol_version = "HTTP/1.1"
    state = None

    def log_message(self, *a):
        pass

    def do_POST(self):
        t0 = time.perf_counter_ns()
        st = self.state
        body = self.rfile.read(int(self.headers.get("Content-Length", "0")))
        try:
            req = json.loads(body)
            result = self.dispatch(req["method"], req.get("params") or [])
            out = b'{"jsonrpc":"2.0","id":%s,"result":%s}' % (
                json.dumps(req.get("id", 1)).encode(), result)
        except Exception as e:  # malformed request: answer, count, keep serving
            with st.lock:
                st.stats["errors"] += 1
            out = json.dumps({"jsonrpc": "2.0", "id": 1,
                              "error": {"code": -32000, "message": str(e)}}).encode()
        self.send_response(200)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(out)))
        self.end_headers()
        self.wfile.write(out)
        dt = time.perf_counter_ns() - t0
        with st.lock:
            st.stats["requests"] += 1
            st.stats["bytes"] += len(out)
            st.stats["serve_ns"] += dt
            st.serve_ms.append(dt / 1e6)

    def dispatch(self, method, params):
        st = self.state
        if method == "eth_blockNumber":
            with st.lock:
                st.stats["block_number"] += 1
            return json.dumps("0x%x" % st.head()).encode()
        if method == "eth_getLogs":
            f = params[0]
            lo, hi = int(f["fromBlock"], 16), int(f["toBlock"], 16)
            parts = [st.blocks[b] for b in range(max(lo, st.first), min(hi, st.last) + 1)
                     if st.blocks[b]]
            with st.lock:
                st.stats["get_logs"] += 1
                st.stats["get_logs_empty"] += 0 if parts else 1
            return b"[" + b",".join(parts) + b"]"
        if method == "bench_follow":
            with st.lock:
                st.interval = float(params[0])
                st.t0 = time.time()
            return json.dumps({"t0_ms": st.t0 * 1000.0, "interval_ms": st.interval,
                               "head0": st.head0}).encode()
        if method == "bench_freeze":
            with st.lock:
                st.frozen = st.head()
            return json.dumps({"head": st.frozen}).encode()
        if method == "bench_stats":
            with st.lock:
                s = dict(st.stats)
                ms = sorted(st.serve_ms)
            s["serve_ms"] = s.pop("serve_ns") / 1e6
            s["late_ms_p99"] = ms[int(0.99 * (len(ms) - 1))] if ms else 0.0
            s["late_ms_max"] = ms[-1] if ms else 0.0
            return json.dumps(s).encode()
        raise ValueError("unsupported method %s" % method)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--port-file", required=True)
    a = ap.parse_args()
    Handler.state = State(a.seed)
    srv = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    srv.daemon_threads = True
    tmp = a.port_file + ".tmp"
    with open(tmp, "w") as f:
        f.write(str(srv.server_address[1]))
    os.rename(tmp, a.port_file)
    try:
        srv.serve_forever(poll_interval=0.1)
    except KeyboardInterrupt:
        pass


if __name__ == "__main__":
    main()
