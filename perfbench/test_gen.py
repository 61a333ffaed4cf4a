"""The benchmark's own tests: seeded inputs are reproducible, and the
metric lists in BENCHMARK.json match what the harness reports.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import filecmp
import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
import layers  # noqa: E402
import run  # noqa: E402

SMALL = dict(n_songs=12, n_artists=5, n_years=2, n_events=400, n_days=3,
             n_users=7)


def files(root):
    return sorted(os.path.relpath(os.path.join(d, f), root)
                  for d, _, fs in os.walk(root) for f in fs)


def same_tree(a, b):
    if files(a) != files(b):
        return False
    return all(filecmp.cmp(os.path.join(a, f), os.path.join(b, f), shallow=False)
               for f in files(a))


class GeneratorTest(unittest.TestCase):

    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.dir = self.tmp.name

    def tearDown(self):
        self.tmp.cleanup()

    def sparkify(self, name, seed):
        out = os.path.join(self.dir, name)
        return out, gen.gen_sparkify(out, seed, **SMALL)

    def tables(self, name, seed):
        out = os.path.join(self.dir, name)
        gen.gen_tables(out, seed, 0.002)
        return out

    def test_sparkify_same_seed_is_byte_identical(self):
        a, ea = self.sparkify("a", 5)
        b, eb = self.sparkify("b", 5)
        self.assertTrue(same_tree(a, b))
        self.assertEqual(ea, eb)

    def test_sparkify_other_seed_differs(self):
        a, _ = self.sparkify("a", 5)
        b, _ = self.sparkify("b", 6)
        self.assertFalse(same_tree(a, b))

    def test_sparkify_layout_and_expected_counts(self):
        out, expect = self.sparkify("a", 5)
        songs = [f for f in files(out) if f.startswith("song_data")]
        logs = [f for f in files(out) if f.startswith("log_data")]
        self.assertEqual(len(songs), SMALL["n_songs"])  # one file per song
        self.assertTrue(all(f.count("/") == 4 for f in songs))  # A/B/C/file
        self.assertEqual(len(logs), SMALL["n_days"])  # one file per day
        events = [json.loads(line) for f in logs
                  for line in open(os.path.join(out, f))]
        plays = [e for e in events if e["page"] == "NextSong"]
        self.assertEqual(len(events), SMALL["n_events"])
        self.assertEqual(expect["next_song_events"], len(plays))
        self.assertEqual(expect["time"], len({e["ts"] for e in plays}))
        self.assertEqual(expect["users"], len({e["userId"] for e in plays}))
        # about half the plays hit on all three join legs
        self.assertLess(abs(expect["songplays"] / len(plays) - 0.5), 0.1)

    def test_tables_same_seed_is_byte_identical(self):
        self.assertTrue(same_tree(self.tables("a", 3), self.tables("b", 3)))

    def test_documents_follow_the_corpus(self):
        import pyarrow.parquet as pq
        docs = pq.read_table(os.path.join(self.tables("a", 3),
                                          "documents.parquet")).to_pydict()
        texts = docs["text"]
        near = [t for t in texts if t.endswith(" dup")]
        self.assertEqual(len(texts), len(set(texts)))  # no exact duplicates
        self.assertEqual(len(near), len(texts) // 20)
        # a near duplicate is another document plus " dup" (unless that
        # document was itself turned into a near duplicate afterwards)
        kept = sum(t[:-4] in set(texts) for t in near)
        self.assertGreaterEqual(kept, 0.8 * len(near))
        words = {w for t in texts for w in t.split()}
        self.assertEqual(words, set(gen.DOC_VOCAB) | {"dup"})
        base = [len(t.split()) for t in texts if not t.endswith(" dup")]
        self.assertTrue(10 <= min(base) and max(base) <= 99)

    def test_tables_other_seed_differs(self):
        self.assertFalse(same_tree(self.tables("a", 3), self.tables("b", 4)))


class BenchmarkJsonTest(unittest.TestCase):

    def setUp(self):
        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        with open(os.path.join(root, "BENCHMARK.json")) as f:
            self.bench = json.load(f)

    def test_per_layer_list_matches_the_harness(self):
        self.assertEqual([(m["name"], m["unit"]) for m in self.bench["per_layer"]],
                         layers.per_layer_names())

    def test_end_to_end_list_matches_every_workload(self):
        res = {"setup_s": 1.0, "peak_rss_kb": 1024, "rounds": 1, "samples": [
            {"round": 0, "name": "op", "ms": 1.0, "cpu_ms": 1.0}]}
        want = [(m["name"], m["unit"]) for m in self.bench["end_to_end"]]
        self.assertEqual(sorted(run.WORKLOADS),
                         sorted(w["name"] for w in self.bench["workloads"]))
        for w in run.WORKLOADS:
            metrics, _ = run.end_to_end(res, w)
            self.assertEqual([(k, u) for k, (_, u) in metrics.items()], want)


if __name__ == "__main__":
    unittest.main()
