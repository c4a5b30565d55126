#!/usr/bin/env python3
"""Self-tests of the benchmark's own logic.

    python3 perfbench/test_perfbench.py          # about half a minute

The JVM test builds the engine (as run.py does) and needs the testdata.
"""
import json
import os
import shutil
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import metrics  # noqa: E402
import run  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_median_needs_ten_samples_above_it(self):
        self.assertIsNone(metrics.percentile(list(range(19)), 50))
        self.assertEqual(metrics.percentile(list(range(20)), 50), 9)

    def test_p90_needs_a_hundred_samples(self):
        self.assertIsNone(metrics.percentile(list(range(99)), 90))
        self.assertEqual(metrics.percentile(list(range(100)), 90), 89)

    def test_order_of_samples_does_not_matter(self):
        vals = [5, 1, 4, 2, 3] * 5
        self.assertEqual(metrics.percentile(vals, 50),
                         metrics.percentile(sorted(vals), 50))

    def test_no_samples(self):
        self.assertIsNone(metrics.percentile([], 50))


class SpanSelfTime(unittest.TestCase):
    def span(self, s, e):
        return {"start_ms": s, "end_ms": e}

    def test_overlapping_children_count_once(self):
        parent = self.span(0, 10)
        kids = [self.span(1, 3), self.span(2, 5)]
        self.assertEqual(metrics.self_ms(parent, kids), 6)

    def test_children_are_clipped_to_the_parent(self):
        parent = self.span(0, 10)
        kids = [self.span(-5, 1), self.span(8, 12)]
        self.assertEqual(metrics.self_ms(parent, kids), 7)

    def test_no_children(self):
        self.assertEqual(metrics.self_ms(self.span(3, 7), []), 4)

    def test_job_spans_attach_to_the_query_that_contains_them(self):
        ev = events([[("a", 0, 10), ("b", 10, 20)]])
        ev["trace"] = {"jobs": [{"job_id": 0, "start_ms": 12, "end_ms": 15,
                                 "stage_ids": [0], "site": "", "ok": True}],
                       "stages": [], "executions": []}
        spans = metrics.spans(ev)
        job = [s for s in spans if s["kind"] == "job"][0]
        parent = spans[job["parent"]]
        self.assertEqual((parent["kind"], parent["name"]), ("query", "b"))


def events(passes, errors=()):
    """A synthetic event file: `passes` is a list of timed passes, each a
    list of (name, start_ms, end_ms); `errors` names ops that threw."""
    ops, out = [], []
    for i, p in enumerate(passes, start=1):
        for name, s, e in p:
            op = {"pass": i, "phase": "timed", "name": name, "start_ms": s,
                  "construct_end_ms": s, "end_ms": e, "janitor_start_ms": e,
                  "janitor_end_ms": e, "rows": 1, "digest": "d-" + name}
            if (i, name) in errors:
                op["error"] = "java.lang.RuntimeException: boom"
            ops.append(op)
        out.append({"pass": i, "phase": "timed", "start_ms": p[0][1],
                    "end_ms": p[-1][2], "heap_mb": 10.0})
    return {"ops": ops, "passes": out, "batches": [], "trace": None,
            "setup": {"jvm_start_ms": 0, "session_ready_ms": 0,
                      "first_timed_ms": 0, "warmup_s": 0.0}}


class FailureCounting(unittest.TestCase):
    expected = {"a": {"rows": 1, "digest": "d-a", "reference_s": 2.0},
                "b": {"rows": 1, "digest": "d-b", "reference_s": 1.0}}

    def test_a_thrown_query_counts_and_does_not_shorten_its_pass(self):
        ok = events([[("a", 0, 2000), ("b", 2000, 3000)]] * 3)
        # pass 2's query "a" fails after 10 ms instead of running 2 s
        bad = events([[("a", 0, 2000), ("b", 2000, 3000)],
                      [("a", 0, 10), ("b", 10, 1010)],
                      [("a", 0, 2000), ("b", 2000, 3000)]],
                     errors={(2, "a")})
        good, worse = (metrics.summarize(e, self.expected, 0)
                       for e in (ok, bad))
        self.assertEqual((good["failed"], worse["failed"]), (0, 1))
        self.assertGreater(worse["failed_ops_ratio"], 0)
        self.assertEqual(worse["attempted"], 6)
        self.assertGreaterEqual(worse["pass_s_all"][1], good["pass_s_all"][1])
        self.assertGreaterEqual(worse["pass_s"], good["pass_s"])

    def test_a_wrong_digest_counts(self):
        ev = events([[("a", 0, 2000), ("b", 2000, 3000)]])
        ev["ops"][1]["digest"] = "other"
        s = metrics.summarize(ev, self.expected, 0)
        self.assertEqual(s["failed"], 1)
        self.assertIn("b: digest", s["failures"][0])


class DigestStability(unittest.TestCase):
    def test_two_executions_of_one_query_agree_with_the_committed_digest(self):
        name = "q01_top_products"
        jars = run.spark_jars()
        classes = run.build(jars)
        work = tempfile.mkdtemp(prefix="selftest-",
                                dir=os.path.join(run.ROOT, ".bench_build"))
        try:
            data = run.testdata_copy(work)
            key = run.path_key(data)
            out = os.path.join(work, "events.json")
            try:
                run.run_jvm(classes, jars, [
                    "--kind", "queries", "--ops", name, "--seed", "1",
                    "--seconds", "0", "--warmup-passes", "1",
                    "--min-passes", "1", "--trace", "0", "--cores", "2",
                    "--sf-dir", data, "--work-dir", work, "--out", out,
                    "--etl-base-rows", "0"], work, run.JVM_TIMEOUT_S)
            finally:
                run.clear_caches(key)
            with open(out) as fh:
                ops = json.load(fh)["ops"]
        finally:
            shutil.rmtree(work, ignore_errors=True)
        digests = [(op["rows"], op["digest"]) for op in ops]
        want = run.load_expected()[name]
        self.assertEqual(len(digests), 2)
        self.assertEqual(digests, [(want["rows"], want["digest"])] * 2)


if __name__ == "__main__":
    unittest.main()
