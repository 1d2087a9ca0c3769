"""Self-tests of the benchmark's own logic. Run from the repository root:

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import filecmp
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_p90_when_ten_samples_lie_beyond_it(self):
        self.assertEqual(stats.tail(list(range(1, 101)), 0.9), (90, 0.9))

    def test_falls_back_to_highest_percentile_with_ten_beyond(self):
        value, q = stats.tail(list(range(50)), 0.9)
        self.assertEqual(sum(1 for v in range(50) if v > value), 10)
        self.assertEqual(q, 0.8)

    def test_never_below_the_median(self):
        self.assertEqual(stats.tail([5, 1, 4, 2, 3], 0.9), (3, 0.5))
        self.assertEqual(stats.tail([4.0, 5.0], 0.9), (4.5, 0.5))

    def test_order_of_samples_does_not_matter(self):
        xs = [0.3, 0.1, 0.9, 0.5] * 30
        self.assertEqual(stats.tail(xs, 0.9), stats.tail(sorted(xs), 0.9))


class OpenLoopLatency(unittest.TestCase):
    def test_latency_runs_from_due_time_not_send_time(self):
        due = [0.0, 0.1, 0.2]
        sent = [0.0, 0.5, 0.5]  # the generator stalled for 0.4 s
        commit = [0.05, 0.6, 0.6]
        self.assertEqual([round(x, 6) for x in stats.open_loop_latency(due, sent, commit)],
                         [0.05, 0.5, 0.4])
        self.assertEqual([round(x, 6) for x in stats.generator_lag(due, sent)],
                         [0.0, 0.4, 0.3])


class EndToEnd(unittest.TestCase):
    CORPUS = {"setup_s": [0.5, 0.4, 0.6], "chain_s": 8.0, "daily_s": 6.0, "cycle_s": 50.0,
              "amend_batch_s": [4.0, 3.0, 3.5], "retract_batch_s": [1.0, 1.2, 1.1]}

    def test_corpus_latency_is_the_amendment_batch_time(self):
        m, extra = run.end_to_end("corpus_cycle", self.CORPUS)
        self.assertEqual(m["latency_p50_s"], 3.5)
        # three batches: fewer than ten lie beyond any tail, so the rule gives the median
        self.assertEqual(m["latency_p90_s"], 3.5)
        self.assertEqual(extra["corpus.retract_batch_p50_s"][0], 1.1)

    def test_corpus_throughput_is_the_whole_cycles(self):
        m, extra = run.end_to_end("corpus_cycle", self.CORPUS)
        self.assertEqual(m["throughput_per_s"], run.CORPUS_DOCS / 50.0)
        self.assertEqual(extra["corpus.chain_docs_per_s"][0], run.CORPUS_DOCS / 8.0)

    def test_a_failed_phase_drops_only_its_metrics(self):
        r = dict(self.CORPUS, amend_batch_s=[])
        del r["chain_s"], r["cycle_s"]
        m, _ = run.end_to_end("corpus_cycle", r)
        self.assertEqual(sorted(m), ["setup_s"])
        m, _ = run.end_to_end("riff_bridge", {
            "setup_s": [1.0], "drain_batch_s": [], "drain_batch_records": 10,
            "open_due_s": [0.0, 0.1], "open_sent_s": [0.0, 0.1],
            "open_commit_s": [None, 0.3], "open_batches": 1})
        self.assertEqual(sorted(m), ["latency_p50_s", "latency_p90_s", "setup_s"])
        self.assertAlmostEqual(m["latency_p50_s"], 0.2)


class GeneratorDeterminism(unittest.TestCase):
    def _inputs(self, root, workload, seed):
        d = os.path.join(root, f"{workload}_{seed}")
        run.make_inputs(workload, seed, 4, d)
        return d

    def _same_tree(self, a, b):
        for d, _, files in os.walk(a):
            for f in files:
                pa = os.path.join(d, f)
                pb = os.path.join(b, os.path.relpath(pa, a))
                if not filecmp.cmp(pa, pb, shallow=False):
                    return False
        return True

    def test_same_seed_gives_byte_identical_inputs(self):
        with tempfile.TemporaryDirectory() as root:
            for w in run.WORKLOADS:
                a = self._inputs(os.path.join(root, "a"), w, 7)
                b = self._inputs(os.path.join(root, "b"), w, 7)
                self.assertTrue(self._same_tree(a, b), w)
                c = self._inputs(os.path.join(root, "c"), w, 8)
                self.assertFalse(self._same_tree(a, c), w)

    def test_frames_round_trip_the_wire_format(self):
        fr = gen.riff_encode([("seq", ["3"]), ("due_ns", ["10"])], b"abc")
        self.assertEqual(fr[:2], b"\xff\x02")
        self.assertTrue(fr.endswith(b"abc"))
        self.assertIn(b'\x03seq\x00\x00\x00\x05["3"]', fr)

    def test_corpus_plants_duplicates_and_contamination(self):
        docs = gen.corpus(3, 3000)
        texts = docs["text"]
        self.assertGreater(len(texts) - len(set(texts)), 100)
        bench = {" ".join(t.split(" ")[i:i + 5]) for t in texts[:gen.BENCH_DOCS]
                 for i in range(len(t.split(" ")) - 4)}
        hit = sum(any(" ".join(t.split(" ")[i:i + 5]) in bench
                      for i in range(len(t.split(" ")) - 4)) for t in texts[gen.BENCH_DOCS:])
        self.assertGreater(hit, 50)

    def test_crud_batches_never_touch_benchmark_docs(self):
        docs = gen.corpus(3, 1000)
        crud = gen.crud_batches(3, docs, 3, 10)
        ids = [i for b in crud["amend_batches"] + crud["retract_batches"] for i in b]
        self.assertEqual(len(ids), len(set(ids)))
        self.assertTrue(all(i >= gen.BENCH_DOCS for i in ids))
        self.assertEqual({r[0] for r in crud["amendments"]},
                         {i for b in crud["amend_batches"] for i in b})


if __name__ == "__main__":
    unittest.main()
