"""The benchmark's own tests.

  python3 -m unittest discover -s perfbench/tests -v          # unit tests
  PERFBENCH_SMOKE=1 python3 -m unittest discover -s perfbench/tests -v
                                            # + end-to-end smoke runs (JVM)
"""
import hashlib
import json
import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import run  # noqa: E402
from benchlib import gen, metrics, refs  # noqa: E402


def _digest(top):
    h = hashlib.sha256()
    for d, _, names in sorted(os.walk(top)):
        for n in sorted(names):
            p = os.path.join(d, n)
            h.update(os.path.relpath(p, top).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


class GeneratorTest(unittest.TestCase):
    def inputs(self, seed):
        with tempfile.TemporaryDirectory() as tmp:
            q = gen.QueryInputs(seed)
            q.write(os.path.join(tmp, "query"))
            with open(os.path.join(tmp, "r.json"), "w") as f:
                json.dump(gen.query_requests(seed, q.chain, 200), f)
            gen.DrainInputs(seed, 3, 20).write(os.path.join(tmp, "docs"))
            node = [b"".join(gen.wire(l).encode() for l in gen.IngestInputs(seed).chain.logs[:2000])]
            return _digest(tmp), hashlib.sha256(node[0]).hexdigest()

    def test_same_seed_same_bytes_other_seed_differs(self):
        a, b, c = self.inputs(7), self.inputs(7), self.inputs(8)
        self.assertEqual(a, b)
        self.assertNotEqual(a[0], c[0])
        self.assertNotEqual(a[1], c[1])

    def test_chain_shape(self):
        chain = gen.QueryInputs(3).chain
        sizes = [len(chain.blocks[b]) for b in chain.blocks]
        self.assertGreater(sizes.count(0), 0.05 * len(sizes))  # some blocks empty
        self.assertGreater(max(sizes), 4 * (sum(sizes) / len(sizes)))  # skewed
        kinds = [l["kind"] for l in chain.logs]
        self.assertGreater(kinds.count(gen.TRANSFER), 0.6 * len(kinds))
        self.assertIn(None, kinds)  # unknown topic0

    def test_request_mix_is_fixed_per_cycle(self):
        chain = gen.QueryInputs(4).chain
        a, b = gen.query_requests(4, chain, 40), gen.query_requests(5, chain, 40)
        self.assertEqual([r["cls"] for r in a], [r["cls"] for r in b])
        self.assertNotEqual(a, b)  # same classes, fresh parameters
        counts = {c: sum(1 for r in a if r["cls"] == c) for c in gen.QUERY_CLASSES}
        self.assertEqual(counts, {c: 8 for c in gen.QUERY_CLASSES})

    def test_drain_reference_keeps_only_distinct_documents(self):
        d = gen.DrainInputs(1, 4, 50)
        docs = [x for f in d.files for x in f]
        self.assertEqual(len(docs), 200)
        kept = set(d.kept)
        copies = [x for x in docs if x["doc_id"] not in kept and any(c.isalpha() for c in x["text"])]
        junk = [x for x in docs if not any(c.isalpha() for c in x["text"])]
        self.assertTrue(copies and junk)


class TailRuleTest(unittest.TestCase):
    def test_ten_samples_beyond(self):
        xs = list(range(1, 101))  # 1..100
        v, pct, n = metrics.tail(xs)
        self.assertEqual(n, 100)
        self.assertEqual(v, 90)  # 91..100 lie beyond it
        self.assertEqual(sum(1 for x in xs if x > v), 10)
        self.assertAlmostEqual(pct, 90.0)

    def test_order_does_not_matter_and_small_n(self):
        self.assertEqual(metrics.tail([5, 1, 4, 2, 3, 9, 8, 7, 6, 10, 11])[:2], (1, 100.0 / 11))
        v, pct, n = metrics.tail([3.0, 1.0, 2.0])
        self.assertEqual((v, pct, n), (3.0, None, 3))
        self.assertEqual(metrics.tail([]), (None, None, 0))


def _progress(start_ms, dur_ms, start_off, end_off, batch=0):
    from datetime import datetime, timezone
    ts = datetime.fromtimestamp(start_ms / 1000.0, tz=timezone.utc)
    return {"timestamp": ts.isoformat(timespec="milliseconds").replace("+00:00", "Z"),
            "batchId": batch, "id": "q",
            "durationMs": {"triggerExecution": dur_ms, "addBatch": dur_ms - 10},
            "sources": [{"startOffset": str(start_off), "endOffset": str(end_off)}]}


class FollowLagTest(unittest.TestCase):
    def test_lag_is_first_covering_commit_minus_due(self):
        t0 = 1_700_000_000_000.0
        # blocks 101..106 due at t0+100 .. t0+600 ms
        prog = [_progress(t0 + 50, 100, 100, 101),    # first commit at +150: start-up
                _progress(t0 + 260, 200, 101, 101),   # covers nothing new
                _progress(t0 + 500, 300, 101, 104),   # commits 102..104 at +800
                _progress(t0 + 800, 100, 104, 105)]   # commits 105 at +900
        lags, missing = metrics.follow_lags(prog, t0, 100.0, 100, 106)
        self.assertEqual(missing, [106])
        # block 101 is due before the first commit (+150): not sampled
        self.assertEqual([round(x, 3) for x in lags], [0.6, 0.5, 0.4, 0.4])
        self.assertEqual(metrics.backlog_max(prog, t0, 100.0, 100, 106), 4)


class ScoringTest(unittest.TestCase):
    def test_thrown_and_wrong_requests_fail_and_are_not_timed(self):
        samples = [{"id": 1, "ok": True, "lat_s": 0.1, "rows": [["a"]]},
                   {"id": 2, "ok": False, "lat_s": 0.05, "error": "boom"},
                   {"id": 3, "ok": True, "lat_s": 9.0, "rows": [["b"]]}]
        good, bad = metrics.score(samples, lambda s: s["rows"] == [["a"]])
        self.assertEqual([s["id"] for s in good], [1])
        self.assertEqual([i for i, _ in bad], [2, 3])

    def test_layer_self_time(self):
        spans = [{"id": 1, "parent": 0, "name": "request.x", "start_ns": 0, "end_ns": 100},
                 {"id": 2, "parent": 1, "name": "sources.Logs.read", "start_ns": 10, "end_ns": 40},
                 {"id": 3, "parent": 1, "name": "operators.EventViews.project",
                  "start_ns": 30, "end_ns": 60},
                 {"id": 4, "parent": 3, "name": "functions.Abi.decode", "start_ns": 35,
                  "end_ns": 45}]
        t = metrics.layer_self_times(spans)
        self.assertAlmostEqual(t["other"], 50e-9)
        self.assertAlmostEqual(t["sources"], 30e-9)
        self.assertAlmostEqual(t["operators"], 20e-9)
        self.assertAlmostEqual(t["functions"], 10e-9)

    def test_layer_self_time_clips_children_of_other_threads(self):
        # a stream started inside "streaming.follow.start" appends after it ended
        spans = [{"id": 1, "parent": 0, "name": "streaming.follow.start", "start_ns": 0,
                  "end_ns": 100},
                 {"id": 2, "parent": 1, "name": "sinks.Logs.appendIdempotent",
                  "start_ns": 80, "end_ns": 150},
                 {"id": 3, "parent": 1, "name": "sinks.Logs.appendIdempotent",
                  "start_ns": 300, "end_ns": 400}]
        t = metrics.layer_self_times(spans)
        self.assertAlmostEqual(t["streaming"], 80e-9)
        self.assertAlmostEqual(t["sinks"], 170e-9)


class ReferenceTest(unittest.TestCase):
    def test_decode_matches_word_layout(self):
        log = {"kind": gen.SWAP, "topics": [gen.SWAP, "0x" + "0" * 24 + "ab" * 20,
                                            "0x" + "0" * 24 + "cd" * 20],
               "data": "0x" + "".join("%064x" % v for v in (1, 2, 3, 2 ** 130 + 4))}
        self.assertEqual(refs.decoded_args(log),
                         ["0x" + "ab" * 20, "1", "2", "3", "4", "0x" + "cd" * 20])


class BenchmarkFileTest(unittest.TestCase):
    def test_contract_shape(self):
        b = run.load_benchmark()
        self.assertEqual(set(b), {"command", "paths", "run_seconds", "workloads", "end_to_end",
                                  "per_layer"})
        self.assertTrue({w["name"] for w in b["workloads"]} <= set(run.WORKLOADS))
        e2e = {m["name"]: m for m in b["end_to_end"]}
        self.assertEqual(e2e["setup_s"]["bound"], max(m["bound"] for m in b["end_to_end"]))
        for m in b["end_to_end"]:
            self.assertLessEqual(m["bound"], 0.25)
        names = [m["name"] for m in b["end_to_end"] + b["per_layer"]]
        self.assertEqual(len(names), len(set(names)))


@unittest.skipUnless(os.environ.get("PERFBENCH_SMOKE"), "set PERFBENCH_SMOKE=1 to run the JVM")
class SmokeTest(unittest.TestCase):
    """Every workload end to end at a small size, with every check passing."""

    @classmethod
    def setUpClass(cls):
        cls.classes = run.build.build()

    def test_all_workloads_pass_their_checks(self):
        for w in run.WORKLOADS:
            o = run.run_once(self.classes, w, 11, 2, 0)
            self.assertEqual(o.failures, [], w)
            self.assertGreater(o.attempted, 0)
            for m in run.load_benchmark()["end_to_end"]:
                self.assertGreater(o.e2e[m["name"]], 0, (w, m["name"]))

    def test_injected_throw_fails_and_is_not_timed(self):
        o = run.run_once(self.classes, "evm_query", 12, 2, 0, inject_throw=0)
        self.assertEqual([i for i, _ in o.failures], [0])
        timed = [n for n, _, _, note in o.named if n == "queries_per_s"]
        self.assertTrue(timed)
        samples = o.res["out"]["samples"]
        self.assertFalse(samples[0]["ok"])
        # the failed request is absent from every latency figure
        good = [s for s in samples if s["ok"]]
        self.assertEqual(o.e2e["latency_p50_s"], metrics.p50([s["lat_s"] for s in good]))


if __name__ == "__main__":
    unittest.main()
