"""Tests of the benchmark's own logic.

Run from the repository root: python3 -m unittest discover -s e2ebench/tests
"""
import hashlib
import os
import sys
import tempfile
import unittest

import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import checks  # noqa: E402
import gen  # noqa: E402
import metrics as M  # noqa: E402


def digests(d):
    out = {}
    for f in sorted(os.listdir(d)):
        with open(os.path.join(d, f), "rb") as fh:
            out[f] = hashlib.sha256(fh.read()).hexdigest()
    return out


class GeneratorTest(unittest.TestCase):
    def test_same_seed_gives_byte_identical_inputs(self):
        for workload in ("olap_mix", "curate", "stream_events"):
            with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b, \
                    tempfile.TemporaryDirectory() as c:
                pa_ = gen.generate(workload, 7, 10, a)
                pb = gen.generate(workload, 7, 10, b)
                gen.generate(workload, 8, 10, c)
                self.assertEqual(pa_, pb)
                self.assertEqual(digests(a), digests(b), workload)
                self.assertNotEqual(digests(a), digests(c), workload)

    def test_corpus_ground_truth_shares(self):
        with tempfile.TemporaryDirectory() as d:
            gen.generate("curate", 1, 10, d)
            import json
            truth = json.load(open(os.path.join(d, "truth.json")))
            for kind, share in gen.SHARES.items():
                self.assertEqual(len(truth[kind]), int(gen.CORPUS_DOCS * share), kind)
            ids = pq.read_table(os.path.join(d, "corpus.parquet")).column("doc_id").to_pylist()
            self.assertEqual(len(ids), gen.CORPUS_DOCS)
            # copies come after their originals, so lowest-id-wins keeps the original
            for dup, orig in zip(truth["near_dup"], truth["near_dup_of"]):
                self.assertGreater(dup, orig)

    def test_stream_out_of_order_within_bound(self):
        with tempfile.TemporaryDirectory() as d:
            gen.generate("stream_events", 3, 10, d)
            t = pq.read_table(os.path.join(d, "stream.parquet"))
            ts = [x.timestamp() * 1000 for x in t.column("ts").to_pylist()]
            running_max = float("-inf")
            late = 0
            for x in ts:
                self.assertGreater(x, running_max - gen.OOO_MAX_MS)
                late += x < running_max
                running_max = max(running_max, x)
            self.assertGreater(late, 0)


class PercentileTest(unittest.TestCase):
    def test_p90_needs_ten_samples_beyond(self):
        xs = list(range(1, 100))  # 99 samples: only 9 beyond the 90th percentile
        self.assertEqual(M.percentile(xs, 0.9), (None, 9))
        t = M.timing(xs)
        self.assertNotIn("p90", t)
        self.assertEqual((t["p50"], t["n"]), (50, 99))
        xs = list(range(1, 101))
        self.assertEqual(M.percentile(xs, 0.9), (90, 10))
        self.assertEqual(M.timing(xs)["p90"], 90)

    def test_empty(self):
        self.assertEqual(M.percentile([], 0.9), (None, 0))


class SelfTimeTest(unittest.TestCase):
    def span(self, i, name, parent, start, end):
        return {"id": i, "name": name, "parent": parent, "run": 0, "start": start, "end": end}

    def test_self_time_subtracts_union_of_children(self):
        spans = [self.span(1, "op", 0, 0, 10),
                 self.span(2, "a", 1, 1, 3), self.span(3, "b", 1, 2, 5),
                 self.span(4, "c", 1, 8, 12)]  # overhangs the parent: clipped
        s = M.self_times(spans)
        self.assertAlmostEqual(s[1], 10 - (4 + 2))
        self.assertAlmostEqual(s[2], 2)
        self.assertAlmostEqual(s[4], 4)

    def test_derived_spans_attach_to_innermost_container(self):
        spans = [self.span(1, "op", 0, 0, 10), self.span(2, "driver.action", 1, 2, 9),
                 self.span(3, "exec.job", -1, 3, 5), self.span(4, "exec.job", -1, 20, 21)]
        attached = {s["id"]: s["parent"] for s in M.attach(spans)}
        self.assertEqual(attached[3], 2)
        self.assertNotIn(4, attached)  # outside every recorded span
        s = M.self_times(M.attach(spans))
        self.assertAlmostEqual(s[2], 7 - 2)
        self.assertAlmostEqual(s[1], 10 - 7)

    def test_prefix_split_by_call_site(self):
        spans = [self.span(1, "ops.curation.prefix", 0, 0, 100)]
        site = "graft.ops.Curation$.ids$1(Curation.scala:1)\ngraft.ops.Curation$.recipePrefixDecisions(Curation.scala:{})"
        execs = [{"start": 1, "end": 10, "site": site.format(5)},
                 {"start": 11, "end": 20, "site": site.format(5)},
                 {"start": 21, "end": 40, "site": site.format(7)},
                 {"start": 41, "end": 60, "site": site.format(9)},
                 {"start": 61, "end": 90, "site": site.format(11)}]
        stages = M.split_prefix(spans, execs)
        self.assertEqual([s["name"] for s in stages], M.PREFIX_STAGES)
        self.assertEqual([(s["start"], s["end"]) for s in stages],
                         [(0, 20), (20, 40), (40, 60), (60, 100)])
        self.assertEqual(M.split_prefix(spans, execs[:2]), [])  # unattributable


class FailureTest(unittest.TestCase):
    def test_query_failure_fails_only_its_samples(self):
        samples = [{"op": "q_a", "ok": True}, {"op": "q_b", "ok": True},
                   {"op": "q_a", "ok": True}, {"op": "q_c", "ok": False}]
        failures = [{"op": "dump:q_a", "class": "java.lang.IllegalStateException", "message": "x"}]
        self.assertEqual(M.failures_to_failed("olap_mix", samples, failures), (4, 3))
        self.assertEqual(M.failures_to_failed("curate", samples[:2], failures), (2, 2))
        self.assertEqual(M.failures_to_failed("curate", samples[:2], []), (2, 0))

    def test_wrong_output_is_recorded_with_its_cause(self):
        with tempfile.TemporaryDirectory() as d:
            gen.generate("olap_mix", 1, 10, d)
            out = os.path.join(d, "out")
            os.makedirs(os.path.join(out, "q_wrong"))
            os.makedirs(os.path.join(out, "q_right"))
            os.makedirs(os.path.join(out, "q_broken"))
            pq.write_table(pa.table({"x": pa.array([1], pa.int64())}),
                           os.path.join(out, "q_broken", "part-0.parquet"))
            pq.write_table(pa.table({"cnt": pa.array([1], pa.int64())}),
                           os.path.join(out, "q_wrong", "part-0.parquet"))
            pq.write_table(pa.table({"cnt": pa.array([gen.OLAP_EVENTS], pa.int64())}),
                           os.path.join(out, "q_right", "part-0.parquet"))
            bad = checks.olap(d, out, {"q_wrong": "SELECT count(*) AS cnt FROM events",
                                       "q_right": "SELECT count(*) AS cnt FROM events",
                                       "q_missing": "SELECT 1 AS x",
                                       "q_broken": "SELECT nope FROM events"})
            by_op = {f["op"]: f["message"] for f in bad}
            self.assertEqual(set(by_op), {"q_wrong", "q_missing", "q_broken"})
            self.assertIn("values differ in cnt", by_op["q_wrong"])
            self.assertIn("no output", by_op["q_missing"])
            self.assertIn("nope", by_op["q_broken"])  # the exception's own message


if __name__ == "__main__":
    unittest.main()
