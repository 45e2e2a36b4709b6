"""Tests of the benchmark's own Python logic: seeded ingest batches, the tail
rule, failure accounting, BENCHMARK.json against run.py. Run: python3 -m unittest discover -s perfbench -p 'test_*.py'
(the Scala side: cd perfbench && sbt test)."""
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
import stats  # noqa: E402


class SeededInputs(unittest.TestCase):
    DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.1")

    def corpus(self):
        import pyarrow.parquet as pq
        return pq.read_table(os.path.join(self.DATA, "documents.parquet"),
                             columns=["text"]).column("text").to_pylist()

    def test_same_seed_same_files(self):
        with tempfile.TemporaryDirectory() as d:
            gen.write_batches(3, self.DATA, os.path.join(d, "a"), 2)
            gen.write_batches(3, self.DATA, os.path.join(d, "b"), 2)
            with open(os.path.join(d, "a", "batches.parquet"), "rb") as x, \
                    open(os.path.join(d, "b", "batches.parquet"), "rb") as y:
                self.assertEqual(x.read(), y.read())

    def test_other_seed_other_batches(self):
        corpus = self.corpus()
        a, b = gen.batches(7, corpus, 2, 10_000), gen.batches(8, corpus, 2, 10_000)
        self.assertTrue(gen.batches(7, corpus, 2, 10_000).equals(a))
        self.assertFalse(a.column("text").equals(b.column("text")))
        self.assertFalse(a.column("expect_dup").equals(b.column("expect_dup")))

    def test_batches_reference_flags(self):
        corpus = self.corpus()
        b = gen.batches(5, corpus, 2, first_id=10_000)
        self.assertEqual(b.num_rows, 2 * gen.BATCH_DOCS)
        flags = b.column("expect_dup").to_pylist()
        self.assertEqual(sum(flags), 2 * int(gen.BATCH_DOCS * gen.PLANTED_SHARE))
        # a planted doc has a corpus doc's token set; an all-new one shares
        # no token with the corpus
        sets = {frozenset(t.split(" ")) for t in corpus}
        vocab = set().union(*sets)
        for t, f in zip(b.column("text").to_pylist(), flags):
            toks = frozenset(t.split(" "))
            self.assertEqual(toks in sets, f)
            self.assertEqual(toks <= vocab, f)
            self.assertEqual(toks.isdisjoint(vocab), not f)


class TailRule(unittest.TestCase):

    def test_highest_percentile_with_ten_beyond(self):
        xs = list(range(1, 101))  # 100 samples
        v, p, beyond = stats.tail(xs)
        self.assertEqual((v, p, beyond), (90, 90.0, 10))

    def test_more_samples_reach_higher(self):
        v, p, beyond = stats.tail(list(range(1, 1001)))
        self.assertEqual((v, p, beyond), (990, 99.0, 10))

    def test_p75_at_forty_samples(self):
        self.assertEqual(stats.tail(list(range(1, 41)))[1:], (75.0, 10))

    def test_too_few_samples_fall_back_to_median(self):
        v, p, beyond = stats.tail([5.0, 1.0, 3.0])
        self.assertEqual((v, p, beyond), (3.0, 50.0, 1))

    def test_order_does_not_matter(self):
        self.assertEqual(stats.tail([3, 1, 2] * 10), stats.tail(sorted([3, 1, 2] * 10)))


class FailureAccounting(unittest.TestCase):

    def op(self, kind, name, ok=True):
        return {"kind": kind, "name": name, "ok": ok,
                "err": None if ok else "java.lang.IllegalStateException: boom"}

    def test_thrown_and_wrong_outputs_count(self):
        ops = [self.op("key", "a"), self.op("key", "b", ok=False), self.op("read", "q")]
        self.assertEqual(stats.failure_counts(ops), (3, 1, 1 / 3))

    def test_oracle_rejection_fails_every_run_of_the_key(self):
        ops = [self.op("verify", "a"), self.op("key", "a"), self.op("key", "a"),
               self.op("verify", "b"), self.op("key", "b")]
        self.assertEqual(stats.failure_counts(ops, {"a": "values differ"}), (5, 3, 0.6))


class ContractFile(unittest.TestCase):

    def test_benchmark_json_names_what_run_py_prints(self):
        import importlib.util
        import json
        here = os.path.dirname(os.path.abspath(__file__))
        spec = importlib.util.spec_from_file_location("run", os.path.join(here, "run.py"))
        run = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(run)
        bench = json.load(open(os.path.join(os.path.dirname(here), "BENCHMARK.json")))
        self.assertEqual([(m["name"], m["unit"]) for m in bench["end_to_end"]], run.E2E)
        self.assertEqual([(m["name"], m["unit"]) for m in bench["per_layer"]], run.PER_LAYER)
        self.assertEqual({w["name"] for w in bench["workloads"]}, set(run.WORKLOADS))
        run.check_data()  # the committed sf0.1 tables match their SHA256SUMS


if __name__ == "__main__":
    unittest.main()
