"""EVM-archive benchmark: one run of one workload.

  python3 perfbench/run.py --workload <evm_ingest|evm_query|curate_drain|all>
                           --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the benchmark's Scala entry point (``build.py``),
generates the workload's inputs from the seed, starts the mock RPC node
when the workload needs one, launches one fresh engine JVM, checks every
answer against the generator's reference, and prints one line per
metric followed by a JSON summary as the last line. ``--trace 1`` adds a
traced pass and prints the per-layer metrics instead of the end-to-end
ones. See README.md for the workloads and the metric map.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
from benchlib import gen, metrics, refs  # noqa: E402

WORKLOADS = ("evm_ingest", "evm_query", "curate_drain")
RUNS = os.path.join(build.BUILD, "runs")

# JVM options of the repository's `run` task (build.sbt): JDK 17 module
# opens plus the two spark.* system properties (and its -Xmx, see
# launch_engine), so the benchmark's session is the one the CLIs get.
JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
JVM_OPTS = [x for p in JDK_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")] + [
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]

# Workload sizes. Inputs are the same shape for every seed; only values move.
INGEST = {"block_step": 100, "warmup_blocks": gen.IngestInputs.WARMUP,
          "follow": {"interval_ms": 50, "trigger_ms": 500, "share": 0.45}}
DRAIN = {"drains": 8, "files": 6, "warmup_files": 2, "docs_per_file": 40,
         "max_files_per_trigger": 1}


def cpus():
    return len(os.sched_getaffinity(0))


# ------------------------------------------------------------------ processes

# A run must end within 180 s of its start (not counting a first build);
# main() sets this, leaving room to check, report and clean up.
DEADLINE = None


def launch_engine(classes, workload, work, seconds, trace, endpoint=None):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    out = os.path.join(work, "result.json")
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus()), SPARK_LOCAL_DIRS=tmp)
    cp = classes + os.pathsep + os.path.join(build.spark_jars(), "*")
    cmd = (["java"] + JVM_OPTS +
           ["-Xmx" + build.driver_mem(), "-Djava.io.tmpdir=" + tmp,
            "-XX:-UsePerfData", "-cp", cp, "graftbench.Main",
            "--workload", workload, "--work", work, "--out", out,
            "--seconds", str(seconds), "--trace", str(trace)] +
           (["--endpoint", endpoint] if endpoint else []))
    log_path = os.path.join(work, "engine.log")
    with open(log_path, "w") as log:
        launch_ms = time.time() * 1000.0
        p = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT, env=env)
        try:
            rc = p.wait(timeout=max(1.0, (DEADLINE or time.time() + 170) - time.time()))
        except subprocess.TimeoutExpired:
            raise RuntimeError("engine JVM still running at the run's deadline")
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()
    if rc != 0 or not os.path.exists(out):
        with open(log_path) as f:
            tail = f.read()[-3000:]
        raise RuntimeError("engine JVM failed (exit %d):\n%s" % (rc, tail))
    with open(out) as f:
        res = json.load(f)
    res["launch_ms"] = launch_ms
    return res


class MockNode:
    """The mock RPC node as a separate process, stopped on exit."""

    def __init__(self, seed, work):
        port_file = os.path.join(work, "node.port")
        with open(os.path.join(work, "node.log"), "w") as log:
            self.proc = subprocess.Popen(
                [sys.executable, os.path.join(HERE, "benchlib", "node.py"),
                 "--seed", str(seed), "--port-file", port_file],
                stdout=subprocess.DEVNULL, stderr=log)
        deadline = time.time() + 60
        while not os.path.exists(port_file):
            if self.proc.poll() is not None or time.time() > deadline:
                self.stop()
                raise RuntimeError("mock node did not start")
            time.sleep(0.05)
        with open(port_file) as f:
            self.endpoint = "http://127.0.0.1:%s" % f.read().strip()

    def call(self, method, params=()):
        import urllib.request
        body = json.dumps({"jsonrpc": "2.0", "id": 1, "method": method,
                           "params": list(params)}).encode()
        req = urllib.request.Request(self.endpoint, body, {"Content-Type": "application/json"})
        with urllib.request.urlopen(req, timeout=30) as r:
            return json.loads(r.read())["result"]

    def stop(self):
        if self.proc.poll() is None:
            self.proc.send_signal(signal.SIGINT)
            try:
                self.proc.wait(timeout=10)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait()


def duck(sql):
    import duckdb
    con = duckdb.connect(config={"threads": 2})
    try:
        return con.execute(sql).fetchall()
    finally:
        con.close()


def parquet_files(d):
    out = []
    for dirpath, dirs, names in os.walk(d):
        dirs[:] = [x for x in dirs if not x.startswith((".", "_"))]
        out += [os.path.join(dirpath, n) for n in names if n.endswith(".parquet")]
    return out


# ------------------------------------------------------------------ workloads

class Outcome:
    """What one engine run produced, scored: end-to-end values (under
    the generic names and the workload's own names), failures, and the
    per-layer figures when the run was traced."""

    def __init__(self, workload):
        self.workload = workload
        self.attempted = 0
        self.failures = []
        self.e2e = {}      # generic name -> value
        self.named = []    # (workload metric name, value, unit, note)
        self.layers = {}   # per-layer metric name -> value
        self.res = None


def common(o, res, setup_s):
    o.res = res
    o.e2e["setup_s"] = setup_s
    o.named += [("setup_s", setup_s, "s", ""),
                ("peak_rss_mb", res["peak_rss_kb"] / 1024.0, "MB", "not gated")]


def finish(o):
    frac = len(o.failures) / o.attempted if o.attempted else 1.0
    o.named += [("failed_frac", frac, "ratio", ""), ("ops_attempted", o.attempted, "count", "")]


def run_query(classes, seed, seconds, trace, work, inject_throw=None):
    inputs = gen.QueryInputs(seed)
    plan = inputs.write(os.path.join(work, "in"))
    plan["swap_topic0"] = gen.SWAP
    if inject_throw is not None:
        plan["inject_throw"] = inject_throw
    with open(os.path.join(work, "plan.json"), "w") as f:
        json.dump(plan, f)
    with open(os.path.join(work, "requests.json"), "w") as f:
        json.dump(gen.query_requests(seed, inputs.chain, 20000), f)
    warmup = gen.warmup_requests(seed, inputs.chain)
    with open(os.path.join(work, "warmup.json"), "w") as f:
        json.dump(warmup, f)
    res = launch_engine(classes, "evm_query", work, seconds, trace)
    out = res["out"]
    o = Outcome("evm_query")
    common(o, res, (out["first_op_ms"] - res["launch_ms"]) / 1000.0)
    qr = refs.QueryRefs(inputs)
    requests = {}
    with open(os.path.join(work, "requests.json")) as f:
        for r in json.load(f) + warmup:
            requests[r["id"]] = r

    def check(s):
        return refs.normalize(s["cls"], s["rows"]) == [tuple(x) for x in qr.expected(requests[s["id"]])]
    samples = out["samples"]
    good, bad = metrics.score(samples, check)
    bad += metrics.score(out["warmup"], check)[1]
    # final table state: one row per PK, tombstones stored as removed rows
    n, n_removed, n_pk = duck(
        "select count(*), count(*) filter (where removed), count(distinct "
        "(block_hash, transaction_hash, log_index)) from read_parquet('%s/*/*.parquet')"
        % out["tables"]["logs"])[0]
    o.attempted = len(samples) + len(out["warmup"]) + 1
    o.failures = bad
    if (n, n_removed, n_pk) != (len(inputs.chain.logs), len(inputs.tombstoned),
                                len(inputs.chain.logs)):
        o.failures.append(("table", "logs table holds %s rows/%s tombstones/%s keys" %
                           (n, n_removed, n_pk)))
    wall = (out["measure_end_ms"] - out["first_op_ms"]) / 1000.0
    lat = [s["lat_s"] for s in good]
    tl, tp, tn = metrics.tail(lat)
    o.e2e["throughput_per_s"] = len(good) / wall
    o.e2e["latency_p50_s"] = metrics.p50(lat)
    o.e2e["latency_tail_s"] = tl
    o.named += [("queries_per_s", o.e2e["throughput_per_s"], "1/s", "n=%d" % len(good)),
                ("query_tail_s", tl, "s", "p%.1f of n=%d" % (tp or 100, tn))]
    for c in gen.QUERY_CLASSES:
        xs = [s["lat_s"] for s in good if s["cls"] == c]
        o.named.append(("%s_p50_s" % c, metrics.p50(xs), "s", "n=%d" % len(xs)))
    finish(o)
    if trace:
        query_layers(o, res, good, inputs)
    return o


def run_ingest(classes, seed, seconds, trace, work):
    inputs = gen.IngestInputs(seed)
    with open(os.path.join(work, "plan.json"), "w") as f:
        json.dump(INGEST, f)
    node = MockNode(seed, work)
    try:
        res = launch_engine(classes, "evm_ingest", work, seconds, trace, node.endpoint)
        stats = node.call("bench_stats")
    finally:
        node.stop()
    out = res["out"]
    o = Outcome("evm_ingest")
    common(o, res, (out["first_op_ms"] - res["launch_ms"]) / 1000.0)
    sched = out["follow_schedule"]
    follow = out["follow_progress"]
    last = max([metrics.end_offset(p) for p in follow if metrics.end_offset(p) is not None]
               + [inputs.backlog_head])
    lags, missing = metrics.follow_lags(follow, sched["t0_ms"], sched["interval_ms"],
                                        sched["head0"], last)
    chain = inputs.chain
    warm = inputs.WARMUP
    o.attempted = (last - chain.first_block + 1) + warm
    o.failures += check_ingest_table(out["table"], chain, last)
    o.failures += check_ingest_table(out["warmup_table"], chain, warm)
    o.failures += [(b, "block %d never covered by a trigger" % b) for b in missing]
    n_backfill = sum(len(chain.blocks[b]) for b in range(chain.first_block, inputs.backlog_head + 1))
    bf_s = (out["backfill_end_ms"] - out["first_op_ms"]) / 1000.0
    tl, tp, tn = metrics.tail(lags)
    o.e2e["throughput_per_s"] = n_backfill / bf_s
    o.e2e["latency_p50_s"] = metrics.p50(lags)
    o.e2e["latency_tail_s"] = tl
    o.named += [("backfill_logs_per_s", o.e2e["throughput_per_s"], "1/s",
                 "%d logs in %.2f s" % (n_backfill, bf_s)),
                ("follow_lag_p50_s", o.e2e["latency_p50_s"], "s", "n=%d" % len(lags)),
                ("follow_lag_tail_s", tl, "s", "p%.1f of n=%d" % (tp or 100, tn)),
                ("node_late_ms_p99", stats["late_ms_p99"], "ms", "mock node serve time")]
    finish(o)
    if trace:
        ingest_layers(o, res, stats, inputs, last)
    return o


def check_ingest_table(path, chain, last):
    """The stored table against the chain, block by block: every block up
    to ``last`` holds exactly its logs, and nothing beyond it is stored."""
    got = {b: (n, s) for b, n, s in duck(
        "select block_number, count(*), sum(log_index) from read_parquet('%s/*/*.parquet') "
        "group by 1" % path)}
    bad = []
    for b in range(chain.first_block, last + 1):
        logs = chain.blocks[b]
        want = (len(logs), sum(l["logIndex"] for l in logs)) if logs else None
        if got.pop(b, None) != want:
            bad.append((b, "block %d rows differ" % b))
    return bad + [(b, "block %d stored past the committed head" % b) for b in got]


def run_drain(classes, seed, seconds, trace, work):
    drains = {str(k): gen.DrainInputs(seed, DRAIN["files"], DRAIN["docs_per_file"], k)
              for k in range(DRAIN["drains"])}
    drains["warmup"] = gen.DrainInputs(seed, DRAIN["warmup_files"], DRAIN["docs_per_file"], 99)
    for k, d in drains.items():
        d.write(os.path.join(work, "drain", "in_%s" % k))
    with open(os.path.join(work, "plan.json"), "w") as f:
        json.dump({"drains": DRAIN["drains"],
                   "max_files_per_trigger": DRAIN["max_files_per_trigger"]}, f)
    res = launch_engine(classes, "curate_drain", work, seconds, trace)
    out = res["out"]
    o = Outcome("curate_drain")
    common(o, res, (out["first_op_ms"] - res["launch_ms"]) / 1000.0)
    trig, docs, wall = [], 0, 0.0
    for d in out["drains"] + [out["warmup"]]:
        ref = drains[d["drain"]]
        o.attempted += ref.n_docs
        if d is not out["warmup"]:
            docs += ref.n_docs
            wall += d["wall_s"]
            trig += [p["durationMs"]["triggerExecution"] / 1000.0 for p in d["progress"]]
        kept = {r[0] for r in duck("select doc_id from read_parquet('%s/*.parquet')" % d["corpus"])}
        indexed = {r[0] for r in duck("select distinct id from read_parquet('%s/**/*.parquet')"
                                      % d["index"])}
        want = set(ref.kept)
        o.failures += [(i, "doc %d kept/dropped wrongly" % i) for i in kept ^ want]
        o.failures += [(i, "doc %d index differs from corpus" % i) for i in indexed ^ kept]
    tl, tp, tn = metrics.tail(trig)
    o.e2e["throughput_per_s"] = docs / wall
    o.e2e["latency_p50_s"] = metrics.p50(trig)
    o.e2e["latency_tail_s"] = tl
    o.named += [("docs_per_s", o.e2e["throughput_per_s"], "1/s",
                 "%d docs, %d drains" % (docs, len(out["drains"]))),
                ("trigger_p50_s", o.e2e["latency_p50_s"], "s", "n=%d" % len(trig)),
                ("trigger_tail_s", tl, "s", "p%.1f of n=%d" % (tp or 100, tn))]
    finish(o)
    if trace:
        drain_layers(o, res, drains)
    return o


RUNNERS = {"evm_query": run_query, "evm_ingest": run_ingest, "curate_drain": run_drain}


# ------------------------------------------------------------------ per-layer

def _per_trigger(res, progress):
    """Streaming per-layer figures over a list of trigger progress events."""
    work = res["trace"]["work"]
    dur = [p["durationMs"] for p in progress]
    tags = ["trigger:%s:%d" % (p["id"], p["batchId"]) for p in progress]
    ws = [work.get(t, {}) for t in tags]
    wall_ms = sum(d.get("triggerExecution", 0) for d in dur)
    run_ms = sum(w.get("run_ms", 0) for w in ws)
    n = max(1, len(progress))
    growth = 0.0
    te = [d.get("triggerExecution", 0) for d in dur]
    q = len(te) // 4
    if q >= 1:
        growth = (sum(te[-q:]) / q) / max(1e-9, sum(te[:q]) / q)
    skews = [w["skew"] for w in ws if w]

    def mean(xs):
        return statistics.mean(xs) if xs else 0.0
    return {
        "streaming.add_batch_ms": mean([d.get("addBatch", 0) for d in dur]),
        "streaming.tasks_per_trigger": sum(w.get("tasks", 0) for w in ws) / n,
        "streaming.cpu_s": sum(w.get("cpu_ns", 0) for w in ws) / 1e9,
        "streaming.parallelism_used": run_ms / max(1e-9, wall_ms * res["cpus"]),
        "streaming.skew": mean(skews),
        "streaming.shuffle_bytes": sum(w.get("shuffle_write", 0) for w in ws),
        "streaming.overhead_ms": mean([d.get("triggerExecution", 0) - d.get("addBatch", 0)
                                       for d in dur]),
        "streaming.planning_ms": mean([d.get("queryPlanning", 0) for d in dur]),
        "streaming.wal_commit_ms": mean([d.get("walCommit", 0) + d.get("commitOffsets", 0)
                                         for d in dur]),
        "streaming.jobs_per_trigger": sum(w.get("jobs", 0) for w in ws) / n,
        "streaming.stages_per_trigger": sum(w.get("stages", 0) for w in ws) / n,
        "streaming.trigger_growth": growth,
    }, ws


def _table_files(path):
    files = parquet_files(path)
    ranges = {os.path.basename(os.path.dirname(f)) for f in files}
    return files, len(ranges)


def _common_layers(o, res):
    o.layers["jvm.gc_s"] = res["gc_ms"] / 1000.0
    for layer, s in metrics.layer_self_times(res["trace"]["spans"]).items():
        if layer != "other":
            o.layers["%s.self_s" % layer] = s


def ingest_layers(o, res, stats, inputs, last):
    out = res["out"]
    progress = out["backfill_progress"] + out["follow_progress"]
    figures, ws = _per_trigger(res, progress)
    o.layers.update(figures)
    sched = out["follow_schedule"]
    o.layers["streaming.backlog_max_blocks"] = metrics.backlog_max(
        out["follow_progress"], sched["t0_ms"], sched["interval_ms"], sched["head0"], last)
    # the node counts the set-up pass too: report the timed phases only
    stats = {k: v - out["warmup_node_stats"].get(k, 0) if k in ("requests", "bytes", "errors",
             "serve_ms", "get_logs", "get_logs_empty") else v for k, v in stats.items()}
    o.layers.update({
        "sources.rpc_requests": stats["requests"], "sources.rpc_bytes": stats["bytes"],
        "sources.rpc_errors": stats["errors"], "sources.rpc_serve_ms": stats["serve_ms"],
        "sources.windows_empty_frac": stats["get_logs_empty"] / max(1, stats["get_logs"]),
        "sources.latest_offset_ms": statistics.mean([p["durationMs"].get("latestOffset", 0)
                                                     for p in progress]),
    })
    files, ranges = _table_files(out["table"])
    n_rows = sum(len(inputs.chain.blocks[b]) for b in range(1, last + 1))
    appends = out["append_ms"]["backfill"] + out["append_ms"]["follow"]
    o.layers.update({
        "sinks.append_ms": metrics.p50(appends) or 0,
        "sinks.rows_offered": sum(p.get("numInputRows", 0) for p in progress),
        "sinks.rows_written": sum(w.get("records_written", 0) for w in ws),
        "sinks.files_written": len(files),
        "sinks.bytes_per_log": sum(os.path.getsize(f) for f in files) / max(1, n_rows),
        "sinks.files_per_range": len(files) / max(1, ranges),
    })
    _common_layers(o, res)


def query_layers(o, res, good, inputs):
    work = res["trace"]["work"]
    cpus_n = res["cpus"]
    for c in gen.QUERY_CLASSES:
        ss = [s for s in good if s["cls"] == c]
        ws = [work.get("q:%s:%d" % (c, s["id"]), {}) for s in ss]
        n = max(1, len(ss))
        exec_ms = sum(s["phases"]["exec_ns"] for s in ss) / 1e6
        pre = "operators.%s." % c
        o.layers.update({
            pre + "build_ms": metrics.p50([s["phases"]["build_ns"] / 1e6 for s in ss]) or 0,
            pre + "plan_ms": metrics.p50([s["phases"]["plan_ns"] / 1e6 for s in ss]) or 0,
            pre + "exec_ms": metrics.p50([s["phases"]["exec_ns"] / 1e6 for s in ss]) or 0,
            pre + "tasks": sum(w.get("tasks", 0) for w in ws) / n,
            pre + "cpu_s": sum(w.get("cpu_ns", 0) for w in ws) / 1e9 / n,
            pre + "bytes_read": sum(w.get("bytes_read", 0) for w in ws) / n,
            pre + "shuffle_bytes": sum(w.get("shuffle_write", 0) for w in ws) / n,
            pre + "parallelism_used": sum(w.get("run_ms", 0) for w in ws)
            / max(1e-9, exec_ms * cpus_n),
            pre + "exchanges": metrics.p50([s["shape"]["exchanges"] for s in ss]) or 0,
            pre + "codegen_stages": metrics.p50([s["shape"]["codegen_stages"] for s in ss]) or 0,
        })
    abi = res["out"]["abi"]
    decode = statistics.median(abi["decode_s"]) - statistics.median(abi["scan_s"])
    o.layers["functions.abi_decode_s"] = decode
    o.layers["functions.abi_rows_per_s"] = abi["rows"] / decode if decode > 0 else 0.0
    files, ranges = _table_files(res["out"]["tables"]["logs"])
    o.layers["sinks.files_written"] = len(files)
    o.layers["sinks.files_per_range"] = len(files) / max(1, ranges)
    o.layers["sinks.bytes_per_log"] = (sum(os.path.getsize(f) for f in files)
                                       / max(1, len(inputs.chain.logs)))
    _common_layers(o, res)


def drain_layers(o, res, drains):
    out = res["out"]
    progress = [p for d in out["drains"] for p in d["progress"]]
    figures, ws = _per_trigger(res, progress)
    # growth is a per-drain shape: take it drain by drain
    growths = [_per_trigger(res, d["progress"])[0]["streaming.trigger_growth"]
               for d in out["drains"]]
    figures["streaming.trigger_growth"] = statistics.median(growths)
    o.layers.update(figures)
    corpus = sum(len(parquet_files(d["corpus"])) for d in out["drains"])
    index = sum(len(parquet_files(d["index"])) for d in out["drains"])
    kept = sum(len(drains[d["drain"]].kept) for d in out["drains"])
    docs = sum(drains[d["drain"]].n_docs for d in out["drains"])
    nd = max(1, len(out["drains"]))
    o.layers.update({
        "sinks.rows_offered": sum(p.get("numInputRows", 0) for p in progress),
        "sinks.rows_written": sum(w.get("records_written", 0) for w in ws),
        "sinks.corpus_files": corpus / nd, "sinks.index_files": index / nd,
        "sinks.kept_frac": kept / max(1, docs),
    })
    _common_layers(o, res)


# ------------------------------------------------------------------ command

def load_benchmark():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run_once(classes, workload, seed, seconds, trace, keep=False, **kw):
    os.makedirs(RUNS, exist_ok=True)
    work = os.path.join(RUNS, "%s-s%d-t%d-%d" % (workload, seed, trace, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        return RUNNERS[workload](classes, seed, seconds, trace, work, **kw)
    finally:
        if not keep:
            shutil.rmtree(work, ignore_errors=True)


def report(o, bench, trace, untraced=None):
    for name, v, unit, note in o.named:
        print("%s %-24s %14s %-6s %s" % (o.workload, name, _fmt(v), unit, note))
    for i, why in o.failures[:10]:
        print("%s FAILED %s: %s" % (o.workload, i, why))
    confs = o.res["confs"]
    print("%s confs %s" % (o.workload, " ".join("%s=%s" % kv for kv in sorted(confs.items()))))
    if trace:
        names = bench["per_layer"]
        if None not in (o.e2e["latency_p50_s"], untraced.e2e["latency_p50_s"]):
            o.layers["trace.overhead_p50_s"] = o.e2e["latency_p50_s"] - untraced.e2e["latency_p50_s"]
            print("%s tracing overhead: latency_p50_s %s traced vs %s untraced, "
                  "throughput_per_s %s vs %s" % (
                      o.workload, _fmt(o.e2e["latency_p50_s"]), _fmt(untraced.e2e["latency_p50_s"]),
                      _fmt(o.e2e["throughput_per_s"]), _fmt(untraced.e2e["throughput_per_s"])))
        for m in names:
            print("%s %-44s %14s %s" % (o.workload, m["name"], _fmt(o.layers.get(m["name"], 0)),
                                        m["unit"]))
        listed = {m["name"] for m in names}
        for k in sorted(set(o.layers) - listed):
            print("%s %-44s %14s" % (o.workload, k, _fmt(o.layers[k])))
        ms = {m["name"]: {"value": o.layers.get(m["name"], 0), "unit": m["unit"]} for m in names}
    else:
        ms = {m["name"]: {"value": o.e2e[m["name"]], "unit": m["unit"]}
              for m in bench["end_to_end"]}
    correct = not o.failures
    print("%s correct=%s attempted=%d failed=%d" % (o.workload, correct, o.attempted,
                                                    len(o.failures)))
    return {"correct": correct, "attempted": o.attempted, "failed": len(o.failures),
            "metrics": ms}


def _fmt(v):
    if v is None:
        return "n/a"
    if isinstance(v, float):
        return "%.6g" % v
    return str(v)


def _terminate(signum, frame):
    # unwind through every finally block, which stops the JVM and the node
    raise SystemExit(128 + signum)


def main(argv=None):
    signal.signal(signal.SIGTERM, _terminate)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=None)
    ap.add_argument("--trace", type=int, default=0, choices=(0, 1))
    ap.add_argument("--keep", action="store_true", help="keep the run's work directory")
    a = ap.parse_args(argv)
    try:
        bench = load_benchmark()
        classes = build.build()
    except (RuntimeError, OSError, ValueError) as e:
        print("benchmark cannot run: %s" % e, file=sys.stderr)
        return 2
    global DEADLINE
    seconds = a.seconds if a.seconds is not None else bench["run_seconds"]
    summary = None
    for w in (WORKLOADS if a.workload == "all" else (a.workload,)):
        DEADLINE = time.time() + 165
        try:
            # the tracing overhead compares against a fresh untraced run
            # of the same seed and length, made just before the traced one
            untraced = run_once(classes, w, a.seed, seconds, 0, a.keep) if a.trace else None
            o = run_once(classes, w, a.seed, seconds, a.trace, a.keep)
        except RuntimeError as e:
            print("%s run failed: %s" % (w, e), file=sys.stderr)
            return 1
        summary = report(o, bench, a.trace, untraced)
        if a.workload == "all":
            print(json.dumps(summary))
    if a.workload != "all":
        print(json.dumps(summary))
    return 0


if __name__ == "__main__":
    sys.exit(main())
