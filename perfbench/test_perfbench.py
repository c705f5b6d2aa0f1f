"""Tests of the benchmark's own code (no JVM needed):

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import hashlib
import json
import os
import sys
import tempfile
import unittest

import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402


def file_hashes(d):
    out = {}
    for name in sorted(os.listdir(d)):
        with open(os.path.join(d, name), "rb") as f:
            out[name] = hashlib.sha256(f.read()).hexdigest()
    return out


def word_edit_distance(a, b):
    prev = list(range(len(b) + 1))
    for i, x in enumerate(a, 1):
        cur = [i]
        for j, y in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (x != y)))
        prev = cur
    return prev[-1]


class TextCorpusTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.TemporaryDirectory()
        cls.dirs = {}
        for tag, seed in (("a", 7), ("b", 7), ("c", 8)):
            d = os.path.join(cls.tmp.name, tag)
            gen.generate("text", seed, d)
            cls.dirs[tag] = d
        docs = pq.read_table(os.path.join(cls.dirs["a"], "documents.parquet")).to_pydict()
        cls.text = dict(zip(docs["doc_id"], docs["text"]))
        with open(os.path.join(cls.dirs["a"], "documents.plant.json")) as f:
            cls.plant = json.load(f)

    @classmethod
    def tearDownClass(cls):
        cls.tmp.cleanup()

    def test_same_seed_gives_identical_bytes(self):
        self.assertEqual(file_hashes(self.dirs["a"]), file_hashes(self.dirs["b"]))

    def test_other_seed_gives_other_corpus(self):
        self.assertNotEqual(file_hashes(self.dirs["a"]), file_hashes(self.dirs["c"]))

    def test_sizes(self):
        self.assertEqual(len(self.text), gen.N_BASE_DOCS + gen.PLANT_COPIES)
        self.assertEqual(len(self.plant), gen.PLANT_COPIES)
        self.assertEqual(sorted(p["doc_id"] for p in self.plant),
                         list(range(gen.N_BASE_DOCS, gen.N_BASE_DOCS + gen.PLANT_COPIES)))

    def test_hot_cluster(self):
        hot = [p for p in self.plant if p["hot"]]
        self.assertEqual(len(hot), gen.HOT_CLUSTER)
        self.assertEqual(len({p["source"] for p in hot}), 1)

    def test_cluster_sizes(self):
        sizes = {}
        for p in self.plant:
            sizes[p["source"]] = sizes.get(p["source"], 0) + 1
        cold = [n for s, n in sizes.items() if not any(p["hot"] and p["source"] == s
                                                        for p in self.plant)]
        self.assertTrue(all(1 <= n <= gen.CLUSTER_MAX for n in cold))
        self.assertEqual(sum(sizes.values()), gen.PLANT_COPIES)

    def test_planted_shares(self):
        exact = [p for p in self.plant if p["edits"] == 0]
        share = len(exact) / len(self.plant)
        self.assertAlmostEqual(share, gen.EXACT_SHARE, delta=0.05)
        for p in exact:
            self.assertEqual(self.text[p["doc_id"]], self.text[p["source"]])

    def test_edit_copies_are_one_to_three_word_edits(self):
        for p in self.plant:
            if p["edits"]:
                self.assertIn(p["edits"], (1, 2, 3))
                d = word_edit_distance(self.text[p["doc_id"]].split(" "),
                                       self.text[p["source"]].split(" "))
                self.assertTrue(1 <= d <= p["edits"], (p, d))

    def test_base_docs_are_sources_only(self):
        for p in self.plant:
            self.assertLess(p["source"], gen.N_BASE_DOCS)


class FixedInputsTest(unittest.TestCase):
    def test_labelprop_inputs_ignore_the_seed(self):
        with tempfile.TemporaryDirectory() as t:
            gen.generate("labelprop", 1, os.path.join(t, "a"))
            gen.generate("labelprop", 2, os.path.join(t, "b"))
            self.assertEqual(file_hashes(os.path.join(t, "a")), file_hashes(os.path.join(t, "b")))
            self.assertEqual(oracle.inputs_id(os.path.join(t, "a")),
                             json.load(open(oracle.PINS))["q12_label_propagation"]["inputs"])


class BenchmarkFileTest(unittest.TestCase):
    def test_benchmark_json_matches_run_py(self):
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
            bench = json.load(f)
        self.assertEqual([w["name"] for w in bench["workloads"]], list(run.WORKLOADS))
        self.assertEqual({m["name"]: m["unit"] for m in bench["end_to_end"]}, run.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in bench["per_layer"]}, run.PER_LAYER)

    def test_generated_tables_are_the_tables_the_mix_reads(self):
        for w, mix in run.WORKLOADS.items():
            self.assertEqual(set(gen.WORKLOAD_TABLES[w]), {t for reads in mix.values() for t in reads})


if __name__ == "__main__":
    unittest.main()
