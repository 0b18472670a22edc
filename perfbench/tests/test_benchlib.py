"""Tests for the benchmark's own logic.

    python3 -m unittest discover -s perfbench/tests
"""
import http.server
import json
import os
import sys
import threading
import time
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import benchlib as bl  # noqa: E402
import run  # noqa: E402

STREAM = dict(smoke_share=0.05, fresh_share=0.3, zipf_s=1.1, rows=(5, 20),
              reuse_gap=8)


class PercentileRule(unittest.TestCase):

    def test_samples_beyond(self):
        self.assertEqual(bl.beyond(100, 90), 10)
        self.assertEqual(bl.beyond(99, 90), 9)
        self.assertEqual(bl.beyond(50, 80), 10)

    def test_highest_supported_percentile(self):
        self.assertEqual(bl.highest_supported_percentile(1000), 99)
        self.assertEqual(bl.highest_supported_percentile(200), 95)
        self.assertEqual(bl.highest_supported_percentile(100), 90)
        self.assertEqual(bl.highest_supported_percentile(99), 80)
        self.assertEqual(bl.highest_supported_percentile(40), 75)
        self.assertEqual(bl.highest_supported_percentile(20), 50)
        self.assertIsNone(bl.highest_supported_percentile(19))

    def test_min_samples_for(self):
        self.assertEqual(bl.min_samples_for(75), 40)
        self.assertEqual(bl.min_samples_for(80), 50)
        self.assertEqual(bl.min_samples_for(90), 100)
        for p in (50, 75, 80, 90, 95):
            n = bl.min_samples_for(p)
            self.assertGreaterEqual(bl.beyond(n, p), 10)
            self.assertLess(bl.beyond(n - 1, p), 10)

    def test_nearest_rank_percentile_and_failures(self):
        xs = list(range(1, 101))
        self.assertEqual(bl.percentile(xs, 50), 50)
        self.assertEqual(bl.percentile(xs, 90), 90)
        # a failed request counts as missing any limit
        self.assertEqual(bl.percentile([1.0, 2.0, float("inf")], 90),
                         float("inf"))


class ClosedLoop(unittest.TestCase):

    def test_four_clients_timed_from_send_to_answer(self):
        """Against a server that answers in 0.2 s, four clients each keep one
        request in flight: about four answers per 0.2 s, every latency about
        0.2 s, never more than four requests outstanding, and the /train goes
        out once, after its scheduled share of the run."""

        class Slow(http.server.BaseHTTPRequestHandler):
            protocol_version = "HTTP/1.1"

            def do_POST(self):
                self.rfile.read(int(self.headers.get("Content-Length", 0)))
                time.sleep(0.2)
                body = b"{}"
                self.send_response(200)
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def log_message(self, *a):
                pass

        srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Slow)
        th = threading.Thread(target=srv.serve_forever, daemon=True)
        th.start()
        stream = {"bodies": ["a,b\n1,2\n"], "train_at": 0.5,
                  "requests": [{"kind": "upload", "body": 0}] * 100}
        try:
            load = run.Load(srv.server_address[1], stream)
            wall = load.run(1.0)
        finally:
            srv.shutdown()
            srv.server_close()
        recs = load.records
        self.assertTrue(all(r["status"] == 200 for r in recs))
        self.assertTrue(16 <= len(recs) <= 24, len(recs))
        self.assertGreaterEqual(wall, 1.0)
        for r in recs:
            self.assertAlmostEqual(r["latency"], r["end"] - r["sent"])
            self.assertTrue(0.19 < r["latency"] < 0.4, r["latency"])
        for r in recs:
            inflight = sum(1 for o in recs if o["sent"] <= r["sent"] < o["end"])
            self.assertLessEqual(inflight, 4)
        trains = [r for r in recs if r["kind"] == "train"]
        self.assertEqual(len(trains), 1)
        self.assertGreaterEqual(trains[0]["sent"], 0.5)


class SeededInputs(unittest.TestCase):

    def test_same_seed_same_request_stream_bytes(self):
        a = bl.stream_bytes(bl.serve_stream(7, 200, **STREAM))
        b = bl.stream_bytes(bl.serve_stream(7, 200, **STREAM))
        c = bl.stream_bytes(bl.serve_stream(8, 200, **STREAM))
        self.assertEqual(a, b)
        self.assertNotEqual(a, c)

    def test_same_seed_same_query_order(self):
        qs = [f"q{i}" for i in range(12)]
        a = bl.batch_order("relational_batch", 3, qs, 5)
        b = bl.batch_order("relational_batch", 3, list(reversed(qs)), 5)
        c = bl.batch_order("relational_batch", 4, qs, 5)
        self.assertEqual(repr(a).encode(), repr(b).encode())
        self.assertNotEqual(a, c)
        self.assertEqual(len(a), 5)
        for order in a:
            self.assertEqual(sorted(order), sorted(qs))

    def test_stream_mix_is_fixed_by_construction(self):
        for seed in range(5):
            s = bl.serve_stream(seed, 200, **STREAM)
            reqs = s["requests"]
            uploads = [r for r in reqs if r["kind"] == "upload"]
            self.assertEqual(len(reqs), 200)
            self.assertEqual(len(reqs) - len(uploads), round(200 * 0.05))
            first = {}
            for i, r in enumerate(reqs):
                if r["kind"] != "upload":
                    continue
                if r["body"] not in first:  # bodies appear in order
                    self.assertEqual(r["body"], len(first))
                    first[r["body"]] = i
                else:  # a re-send comes at least reuse_gap requests later
                    self.assertGreaterEqual(i - first[r["body"]], 8)
            # past the first gap, new bodies keep to their share
            self.assertLessEqual(len(s["bodies"]),
                                 round(len(uploads) * 0.3) + 8)
            self.assertGreaterEqual(len(s["bodies"]), round(len(uploads) * 0.3))
            self.assertTrue(0.35 <= s["train_at"] <= 0.45)


class SpanSelfTime(unittest.TestCase):

    def test_self_time_subtracts_covered_child_interval(self):
        spans = [
            {"id": 1, "parent": 0, "name": "query", "start": 0.0, "end": 10.0},
            {"id": 2, "parent": 1, "name": "plan", "start": 1.0, "end": 3.0},
            {"id": 3, "parent": 1, "name": "exec", "start": 2.0, "end": 5.0},
            {"id": 4, "parent": 1, "name": "exec", "start": 8.0, "end": 12.0},
            {"id": 5, "parent": 3, "name": "inner", "start": 2.5, "end": 3.5},
        ]
        st = bl.self_times(spans)
        # children cover [1,5] and [8,10] of the parent's [0,10]
        self.assertAlmostEqual(st[1], 4.0)
        self.assertAlmostEqual(st[2], 2.0)
        self.assertAlmostEqual(st[3], 2.0)
        self.assertAlmostEqual(st[4], 4.0)
        self.assertAlmostEqual(st[5], 1.0)
        by = bl.self_time_by_name(spans)
        self.assertEqual(sorted(by["exec"]), [2.0, 4.0])


class Compare(unittest.TestCase):

    def test_gain_needs_nine_of_ten_wins_and_gap_beyond_iqr(self):
        parent = [100 + (i % 3) for i in range(10)]
        change = [90 + (i % 3) for i in range(10)]
        self.assertEqual(bl.compare(parent, change, "lower", 0.1)["verdict"],
                         "gain")
        self.assertEqual(
            bl.compare(parent, change, "lower", 0.1, can_gain=False)["verdict"],
            "unresolved")
        mixed = change[:8] + [150, 150]
        self.assertNotEqual(bl.compare(parent, mixed, "lower", 0.1)["verdict"],
                            "gain")

    def test_regression_and_unresolved(self):
        parent = [100.0 + i * 0.1 for i in range(10)]
        worse = [130.0 + i * 0.1 for i in range(10)]
        self.assertEqual(bl.compare(parent, worse, "lower", 0.1)["verdict"],
                         "regression")
        noisy = [50, 150, 60, 140, 70, 130, 80, 120, 90, 110]
        same = list(noisy)
        self.assertEqual(bl.compare(noisy, same, "lower", 0.1)["verdict"],
                         "unresolved")
        self.assertEqual(bl.compare(parent, parent, "higher", 0.1)["verdict"],
                         "no regression")


class CompareReport(unittest.TestCase):

    def row(self, seed, value, rc=0, correct=True):
        result = None if rc else {
            "correct": correct, "attempted": 10, "failed": 0,
            "metrics": {m: {"value": value, "unit": "s"} for m in run.E2E}}
        return {"workload": "query_batch", "seed": seed, "trace": 0,
                "rc": rc, "result": result}

    def compare_output(self, parent, change):
        import io
        import tempfile
        from contextlib import redirect_stdout
        import report
        with tempfile.TemporaryDirectory() as d:
            paths = []
            for name, rows in (("p", parent), ("c", change)):
                paths.append(os.path.join(d, name + ".jsonl"))
                with open(paths[-1], "w") as f:
                    f.writelines(json.dumps(r) + "\n" for r in rows)
            buf = io.StringIO()
            with redirect_stdout(buf):
                report.cmd_compare(type("A", (), {"parent": paths[0],
                                                  "change": paths[1]}))
        return buf.getvalue()

    def test_crashed_or_wrong_change_runs_block_a_gain(self):
        parent = [self.row(s, 100.0 + s % 3) for s in range(1, 11)]
        faster = [self.row(s, 50.0 + s % 3) for s in range(1, 11)]
        self.assertIn("setup_s              gain",
                      self.compare_output(parent, faster))
        broken = ([self.row(s, 50.0, rc=1) for s in range(1, 10)] +
                  [self.row(10, 50.0)])
        out = self.compare_output(parent, broken)
        self.assertNotIn(" gain ", out)
        self.assertIn("1 of 10 complete and correct", out)
        self.assertIn("seed 3 crashed (rc 1)", out)
        wrong = [self.row(s, 50.0, correct=(s != 4)) for s in range(1, 11)]
        out = self.compare_output(parent, wrong)
        self.assertNotIn(" gain ", out)
        self.assertIn("seed 4 wrong answers", out)
        self.assertIn("change failed on seeds [4]", out)


class BenchmarkSpec(unittest.TestCase):

    def test_declared_metrics_match_what_a_run_prints(self):
        with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        self.assertEqual({m["name"]: m["unit"] for m in spec["end_to_end"]},
                         run.E2E)
        self.assertEqual({m["name"]: m["unit"] for m in spec["per_layer"]},
                         run.PER_LAYER)
        self.assertEqual({w["name"] for w in spec["workloads"]},
                         set(run.WORKLOADS))


if __name__ == "__main__":
    unittest.main()
