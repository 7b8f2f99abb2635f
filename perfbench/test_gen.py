"""Tests of the benchmark's seeded generators.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import json
import os
import tempfile
import unittest

import pyarrow.parquet as pq

import gen


def read(d, name):
    return pq.read_table(os.path.join(d, name))


def texts(d):
    t = pq.read_table(os.path.join(d, "corpus")).to_pydict()
    return dict(zip(t["doc_id"], t["text"]))


def grams(text):
    w = text.split(" ")
    return {" ".join(w[i:i + 3]) for i in range(len(w) - 2)}


class CorpusTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.TemporaryDirectory()
        cls.dirs = {}
        for name, seed in [("a", 5), ("b", 5), ("c", 6)]:
            d = os.path.join(cls.tmp.name, name)
            cls.dirs[name] = (d, gen.corpus(d, seed, n_base=300, n_files=4, n_probes=40))

    @classmethod
    def tearDownClass(cls):
        cls.tmp.cleanup()

    def test_same_seed_same_corpus_and_truth(self):
        (da, ta), (db, tb) = self.dirs["a"], self.dirs["b"]
        self.assertEqual(ta, tb)
        self.assertEqual(texts(da), texts(db))
        self.assertTrue(read(da, "probes.parquet").equals(read(db, "probes.parquet")))

    def test_other_seed_other_corpus(self):
        self.assertNotEqual(texts(self.dirs["a"][0]), texts(self.dirs["c"][0]))

    def test_files(self):
        d, truth = self.dirs["a"]
        self.assertEqual(len(os.listdir(os.path.join(d, "corpus"))), 4)
        with open(os.path.join(d, "truth.json")) as fh:
            self.assertEqual(json.load(fh), json.loads(json.dumps(truth)))

    def test_exact_groups(self):
        d, truth = self.dirs["a"]
        by_text = {}
        for i, t in texts(d).items():
            by_text.setdefault(t, []).append(i)
        want = {str(min(ids)): len(ids) for ids in by_text.values() if len(ids) > 1}
        self.assertEqual(truth["exact_groups"], want)
        self.assertGreater(len(want), 10)

    def test_near_pairs_are_edited_copies(self):
        d, truth = self.dirs["a"]
        docs = texts(d)
        self.assertGreater(len(truth["near_pairs"]), 30)
        for a, b in truth["near_pairs"]:
            ga, gb = grams(docs[a]), grams(docs[b])
            self.assertNotEqual(docs[a], docs[b])
            self.assertGreaterEqual(len(ga & gb) / len(ga | gb), 0.7)

    def test_contaminated_docs_by_brute_force(self):
        d, truth = self.dirs["a"]
        docs = texts(d)
        probes = read(d, "probes.parquet").to_pydict()["text"]
        want = set()
        for p in probes:
            pg = grams(p)
            want.update(i for i, t in docs.items()
                        if len(pg & grams(t)) / len(pg) >= gen.CONTAM_THRESHOLD)
        self.assertEqual(set(truth["contaminated"]), want)
        # every slice probe (even positions) comes from some corpus doc
        for p in probes[::2]:
            self.assertTrue(any(p in t for t in docs.values()))


class RequestsTest(unittest.TestCase):
    def test_seeded_stream(self):
        self.assertEqual(gen.requests(3, 50), gen.requests(3, 50))
        self.assertNotEqual(gen.requests(3, 50), gen.requests(4, 50))

    def test_every_block_holds_each_endpoint_once(self):
        r = gen.requests(9, 100)
        for i in range(0, 100, 5):
            self.assertEqual(sorted(x["endpoint"] for x in r[i:i + 5]),
                             sorted(gen.ENDPOINTS))
        self.assertTrue(all(0 <= x["param"] < gen.POOL_SIZE for x in r))

    def test_pool_is_fixed(self):
        pool = gen.param_pool()
        self.assertEqual(pool, gen.param_pool())
        self.assertEqual(sorted(pool), sorted(gen.ENDPOINTS))
        self.assertTrue(all(len(v) == gen.POOL_SIZE for v in pool.values()))
        for q in pool["tabloop"]:
            self.assertNotIn(q["fixed"], q["loops"])
            self.assertTrue(q["loops"])


if __name__ == "__main__":
    unittest.main()
